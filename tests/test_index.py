"""Index-build invariants (FIXTURES.md §3) + resumability."""

import re

import numpy as np
import pytest
from pyspark.sql import functions as F

from data_prepper_spark.index.build import build_index
from data_prepper_spark.index.bitpack import decode_doc_ids_payload, decode_payload


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


def _bloom_filters(spark, root, column):
    """[(file, bloom filter or None, chunk is dictionary-encoded only)] for
    every row group of every data file under ``root`` (underscore dirs
    excluded, as readers do), read back through parquet-mr's own
    reader."""
    import glob
    import os

    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    out = []
    for f in sorted(glob.glob(os.path.join(root, "**", "*.parquet"), recursive=True)):
        if "/_" in f[len(root):]:
            continue
        reader = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
            jvm.org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
                jvm.org.apache.hadoop.fs.Path(f), conf
            )
        )
        try:
            for rg in reader.getRowGroups():
                (col,) = [c for c in rg.getColumns() if c.getPath().toDotString() == column]
                stats = col.getEncodingStats()
                dict_only = stats is not None and not stats.hasNonDictionaryEncodedPages()
                out.append((f, reader.readBloomFilter(col), dict_only))
        finally:
            reader.close()
    return out


def test_bloom_filters_sized_to_row_group(spark, index_dir, corpus_dir, tmp_path):
    """Every key column the readers prune on carries a bloom filter in
    every row group, sized to that row group's distinct keys: at ~1k
    keys per row group none may be parquet-mr's 1 MiB maximum (nor
    anywhere near it). Covers the fresh build's posting_blocks and
    dictionary, a layered add's segment blocks and side dictionary, and
    the positions table. parquet-mr writes no filter for a chunk that
    stayed dictionary-encoded (positions' repeated term_hash at this
    scale): its dictionary prunes instead. The dictionary's filters
    answer 'might contain' for every term their file holds (no false
    negatives)."""
    import os
    import shutil

    from data_prepper_spark.index.build import add_to_index, resolved_table_path
    from data_prepper_spark.query.phrase import build_positions

    files = sorted(f for f in os.listdir(corpus_dir) if f.endswith(".parquet"))
    base_d, add_d = str(tmp_path / "base"), str(tmp_path / "add")
    os.makedirs(base_d), os.makedirs(add_d)
    for i, f in enumerate(files):
        shutil.copy(os.path.join(corpus_dir, f), base_d if i < len(files) // 2 else add_d)
    lay = str(tmp_path / "layered")
    build_index(spark, base_d, lay, n_shards=8, units=1, shard_groups=1)
    add_to_index(spark, add_d, lay, n_shards=8, units=1, remerge=False)
    build_positions(spark, corpus_dir, lay, n_shards=8)
    lay_blocks = resolved_table_path(lay, "posting_blocks")
    seg = max(
        (g for g in os.listdir(lay_blocks) if g.startswith("group=")),
        key=lambda g: int(g.split("=")[1]),
    )  # the layered segment: base groups come first

    tables = [
        (resolved_table_path(index_dir, "posting_blocks"), "term_hash"),
        (resolved_table_path(index_dir, "dictionary"), "term"),
        (os.path.join(lay_blocks, seg), "term_hash"),
        (os.path.join(lay_blocks, "_segdict"), "term"),
        (os.path.join(lay, "positions"), "term_hash"),
    ]
    for root, column in tables:
        filters = _bloom_filters(spark, root, column)
        assert filters, root
        for f, bf, dict_only in filters:
            if bf is None:
                assert dict_only, f"no bloom filter on {column} in {f}"
                continue
            assert bf.getBitsetSize() <= 16 * 1024, (f, bf.getBitsetSize())

    binary = spark._jvm.org.apache.parquet.io.api.Binary
    dic = resolved_table_path(index_dir, "dictionary")
    for f, bf, _ in _bloom_filters(spark, dic, "term"):
        terms = [r["term"] for r in spark.read.parquet(f).select("term").collect()]
        assert terms
        assert all(bf.findHash(bf.hash(binary.fromString(t))) for t in terms), f
