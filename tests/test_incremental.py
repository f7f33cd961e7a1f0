"""Incremental index maintenance: add_to_index must produce an index
IDENTICAL (postings, blocks, dictionary, query results) to a clean build
over the full corpus, without re-tokenizing existing units, and must be
idempotent / crash-recoverable per source batch."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from data_prepper_spark.index.build import (
    add_to_index,
    build_index,
    refresh_index,
    resolved_table_path,
)
from data_prepper_spark.query.engine import IndexQueryEngine


def _split_corpus(corpus_dir, tmp_path):
    files = sorted(f for f in os.listdir(corpus_dir) if f.endswith(".parquet"))
    assert len(files) >= 2
    half = len(files) // 2
    s1, s2, full = (str(tmp_path / n) for n in ("s1", "s2", "full"))
    for d in (s1, s2, full):
        os.makedirs(d, exist_ok=True)
    for i, f in enumerate(files):
        shutil.copy(os.path.join(corpus_dir, f), (s1 if i < half else s2))
        shutil.copy(os.path.join(corpus_dir, f), full)
    return s1, s2, full


def _chk(spark, path, expr):
    return spark.read.parquet(path).select(F.expr(expr)).collect()[0][0]


def test_add_to_index_equals_clean_build(spark, corpus_dir, tmp_path):
    s1, s2, full = _split_corpus(corpus_dir, tmp_path)
    inc = str(tmp_path / "idx_inc")
    clean = str(tmp_path / "idx_clean")
    build_index(spark, s1, inc, n_shards=8, units=1, shard_groups=2)
    tokenized = []
    r_inc = add_to_index(
        spark, s2, inc, n_shards=8, units=1,
        fault_injector=lambda s, u: tokenized.append((s, u)),
    )
    # stage A ran ONLY for the new batch's unit
    assert [x for x in tokenized if x[0] == "A"] == [("A", 1)]
    r_clean = build_index(spark, full, clean, n_shards=8, units=2, shard_groups=2)
    assert (r_inc.n_docs, r_inc.avgdl) == (r_clean.n_docs, r_clean.avgdl)
    assert _chk(spark, f"{inc}/postings", "bit_xor(xxhash64(term, doc_id, tf))") == _chk(
        spark, f"{clean}/postings", "bit_xor(xxhash64(term, doc_id, tf))"
    )
    bexpr = (
        "bit_xor(xxhash64(term_hash, shard, block_id, first_doc_id, n_docs, "
        "doc_gaps, tfs, dls, block_max_tf, block_max_wtf))"
    )
    assert _chk(spark, resolved_table_path(inc, "posting_blocks"), bexpr) == _chk(
        spark, resolved_table_path(clean, "posting_blocks"), bexpr
    )
    dexpr = "bit_xor(xxhash64(term, term_hash, df, cf, max_wtf))"
    assert _chk(spark, resolved_table_path(inc, "dictionary"), dexpr) == _chk(
        spark, resolved_table_path(clean, "dictionary"), dexpr
    )
    # query parity on the maintained index
    e1, e2 = IndexQueryEngine(spark, inc, persist_blocks=False), IndexQueryEngine(spark, clean, persist_blocks=False)
    for q in ("def return value", "class import"):
        assert e1.topk(q, 10).collect() == e2.topk(q, 10).collect()


def test_add_to_index_idempotent_and_crash_safe(spark, corpus_dir, tmp_path):
    s1, s2, _ = _split_corpus(corpus_dir, tmp_path)
    idx = str(tmp_path / "idx")
    build_index(spark, s1, idx, n_shards=8, units=1, shard_groups=2)

    calls = {"n": 0}

    def boom(stage, unit):
        calls["n"] += 1
        if stage == "B" and calls["n"] >= 2:
            calls["n"] = -99  # only crash once
            raise RuntimeError("injected")

    with pytest.raises(RuntimeError):
        add_to_index(spark, s2, idx, n_shards=8, units=1, fault_injector=boom)
    # retry completes the SAME batch (no duplicate tokenization of s2)
    seen = []
    r = add_to_index(
        spark, s2, idx, n_shards=8, units=1,
        fault_injector=lambda s, u: seen.append((s, u)),
    )
    assert [x for x in seen if x[0] == "A"] == []  # stage A already committed
    # re-adding the identical batch again is a no-op for stage A and
    # doesn't change corpus stats
    r2 = add_to_index(spark, s2, idx, n_shards=8, units=1)
    assert (r2.n_docs, r2.avgdl) == (r.n_docs, r.avgdl)
    stats = spark.read.parquet(f"{idx}/corpus_stats").collect()[0]
    assert stats["n_docs"] == r.n_docs


def test_add_to_index_requires_existing(spark, corpus_dir, tmp_path):
    with pytest.raises(ValueError):
        add_to_index(spark, corpus_dir, str(tmp_path / "nope"))


def test_streaming_index_updates(spark, corpus_dir, tmp_path):
    """File-stream the corpus in 1-file micro-batches into stage-A units,
    refresh, and get an index identical to the clean batch build."""
    from data_prepper_spark.index.build import refresh_index
    from data_prepper_spark.streaming.index_stream import index_stream_writer

    out = str(tmp_path / "idx_stream")
    ckpt = str(tmp_path / "ckpt")
    # built through the r5 connector seam (sources.read_stream_source):
    # same wiring a kafka/file deployment would use, options pass through
    from data_prepper_spark.sources import read_stream_source

    stream = read_stream_source(
        spark, "file", path=corpus_dir, codec="parquet",
        options={"maxFilesPerTrigger": "1"},
    )
    q = (
        index_stream_writer(stream, out, n_shards=8, checkpoint_dir=ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    r = refresh_index(spark, out, shard_groups=2)
    clean = str(tmp_path / "idx_clean2")
    rc = build_index(spark, corpus_dir, clean, n_shards=8, units=2, shard_groups=2)
    assert (r.n_docs, r.avgdl) == (rc.n_docs, rc.avgdl)
    bexpr = (
        "bit_xor(xxhash64(term_hash, shard, block_id, first_doc_id, n_docs, "
        "doc_gaps, tfs, dls, block_max_tf, block_max_wtf))"
    )
    assert _chk(spark, resolved_table_path(out, "posting_blocks"), bexpr) == _chk(
        spark, resolved_table_path(clean, "posting_blocks"), bexpr
    )
    e1 = IndexQueryEngine(spark, out, persist_blocks=False)
    e2 = IndexQueryEngine(spark, clean, persist_blocks=False)
    assert e1.topk("def return value", 10).collect() == e2.topk("def return value", 10).collect()


def test_layered_pointer_kernel_rank_identity(spark, corpus_dir, tmp_path):
    """A layered (NRT) index must keep block-max pruning: the block-max
    kernel (forced via exhaustive_threshold=0) over per-segment block lists
    with avgdl-independent tf-only bounds must be rank-identical to the clean
    merged build — the Lucene-NRT 'segments stay fully searchable' economics
    instead of a forced exhaustive scan."""
    s1, s2, full = _split_corpus(corpus_dir, tmp_path)
    idx = str(tmp_path / "idx_layered_ptr")
    clean = str(tmp_path / "idx_clean_ptr")
    build_index(spark, s1, idx, n_shards=8, units=1, shard_groups=2)
    add_to_index(spark, s2, idx, n_shards=8, units=1, remerge=False)
    build_index(spark, full, clean, n_shards=8, units=2, shard_groups=2)
    # exhaustive_threshold=0 forces the block-max (pruning) kernel everywhere
    el = IndexQueryEngine(spark, idx, persist_blocks=False, exhaustive_threshold=0)
    ec = IndexQueryEngine(spark, clean, persist_blocks=False, exhaustive_threshold=0)
    ex = IndexQueryEngine(spark, idx, persist_blocks=False)  # exhaustive path
    assert el._bounds == "tf" and ec._bounds == "wtf"

    def close(got, want, tag):
        # (rank, doc_id) exact; scores to 1e-9 (summation order differs
        # across kernels/segment layouts by a few ulp)
        assert [(r.rank, r.doc_id) for r in got] == [(r.rank, r.doc_id) for r in want], tag
        for g, w in zip(got, want):
            assert abs(g.score - w.score) < 1e-9, (tag, g, w)

    for q in ("def return value", "class import", "the", "def the class"):
        want = ec.topk(q, 10).collect()
        close(el.topk(q, 10).collect(), want, q)
        close(ex.topk(q, 10).collect(), want, q)
    # batched path too
    qs = {"q1": "def return value", "q2": "the class"}
    got_b = sorted(map(tuple, el.topk_batch(qs, 10).collect()))
    want_b = sorted(map(tuple, ec.topk_batch(qs, 10).collect()))
    assert [t[:3] for t in got_b] == [t[:3] for t in want_b]
    for g, w in zip(got_b, want_b):
        assert abs(g[3] - w[3]) < 1e-9


def test_layered_add_then_compact(spark, corpus_dir, tmp_path):
    """remerge=False: new docs are searchable immediately from a layered
    segment (no re-merge, pruning disabled via corpus_stats.layered);
    refresh_index later compacts to the canonical bit-identical index."""
    s1, s2, full = _split_corpus(corpus_dir, tmp_path)
    idx = str(tmp_path / "idx_layered")
    clean = str(tmp_path / "idx_clean3")
    build_index(spark, s1, idx, n_shards=8, units=1, shard_groups=2)
    stage_b_runs = []
    r = add_to_index(
        spark, s2, idx, n_shards=8, units=1, remerge=False,
        fault_injector=lambda s, u: stage_b_runs.append((s, u)),
    )
    # no stage-B re-merge happened (only the new stage-A unit ran)
    assert [x for x in stage_b_runs if x[0] == "B"] == []
    rc = build_index(spark, full, clean, n_shards=8, units=2, shard_groups=2)
    assert (r.n_docs, r.avgdl) == (rc.n_docs, rc.avgdl)
    stats = spark.read.parquet(f"{idx}/corpus_stats").collect()[0]
    assert stats["layered"] == 1
    # queries over the layered index are rank-identical to the clean build
    el = IndexQueryEngine(spark, idx, persist_blocks=False)
    ec = IndexQueryEngine(spark, clean, persist_blocks=False)
    assert el.layered == 1 and ec.layered == 0
    for q in ("def return value", "class import", "the"):
        assert el.topk(q, 10).collect() == ec.topk(q, 10).collect(), q
    # compaction: canonical groups, pruning re-enabled, bit-identical blocks
    refresh_index(spark, idx)
    stats = spark.read.parquet(f"{idx}/corpus_stats").collect()[0]
    assert stats["layered"] == 0
    bexpr = (
        "bit_xor(xxhash64(term_hash, shard, block_id, first_doc_id, n_docs, "
        "doc_gaps, tfs, dls, block_max_tf, block_max_wtf))"
    )
    assert _chk(spark, resolved_table_path(idx, "posting_blocks"), bexpr) == _chk(
        spark, resolved_table_path(clean, "posting_blocks"), bexpr
    )
    import os

    groups = sorted(
        d for d in os.listdir(resolved_table_path(idx, "posting_blocks")) if d.startswith("group=")
    )
    assert groups == ["group=0", "group=1"]  # layered segment dir compacted away


def test_refresh_crash_leaves_old_index_queryable(spark, corpus_dir, tmp_path, monkeypatch):
    """Atomic refresh: a crash DURING refresh (stage B of the new
    generation) must leave the previous generation fully queryable with
    unchanged results — the generation-pointer swap is the commit point.
    A re-run then completes and matches a clean build bit-identically.
    (DPS_GC_RETAIN=0 disables the reader grace period so the stray-dir
    assertion checks exact GC; retention has its own test.)"""
    monkeypatch.setenv("DPS_GC_RETAIN", "0")
    s1, s2, full = _split_corpus(corpus_dir, tmp_path)
    idx = str(tmp_path / "idx_atomic")
    clean = str(tmp_path / "idx_clean_atomic")
    build_index(spark, s1, idx, n_shards=8, units=1, shard_groups=2)
    add_to_index(spark, s2, idx, n_shards=8, units=1, remerge=False)
    pre = IndexQueryEngine(spark, idx, persist_blocks=False).topk("def return value", 10).collect()
    pre_stats = spark.read.parquet(f"{idx}/corpus_stats").collect()[0]
    assert pre_stats["layered"] == 1

    def boom(stage, unit):
        if stage == "B" and unit == 1:
            raise RuntimeError("injected mid-refresh")

    with pytest.raises(RuntimeError, match="injected"):
        refresh_index(spark, idx, fault_injector=boom)
    # old generation untouched: same layered flag, same query results
    stats = spark.read.parquet(f"{idx}/corpus_stats").collect()[0]
    assert stats["layered"] == 1
    post = IndexQueryEngine(spark, idx, persist_blocks=False).topk("def return value", 10).collect()
    assert post == pre
    # re-run completes atomically and equals the clean build
    refresh_index(spark, idx)
    build_index(spark, full, clean, n_shards=8, units=2, shard_groups=2)
    bexpr = (
        "bit_xor(xxhash64(term_hash, shard, block_id, first_doc_id, n_docs, "
        "doc_gaps, tfs, dls, block_max_tf, block_max_wtf))"
    )
    assert _chk(spark, resolved_table_path(idx, "posting_blocks"), bexpr) == _chk(
        spark, resolved_table_path(clean, "posting_blocks"), bexpr
    )
    assert spark.read.parquet(f"{idx}/corpus_stats").collect()[0]["layered"] == 0
    # old generation dirs were garbage-collected after the swap
    stray = [
        d for d in os.listdir(idx)
        if (d == "posting_blocks" or d == "dictionary")
        or (d.startswith("posting_blocks.gen-") and f"{idx}/{d}" != resolved_table_path(idx, "posting_blocks"))
        or (d.startswith("dictionary.gen-") and f"{idx}/{d}" != resolved_table_path(idx, "dictionary"))
    ]
    assert stray == [], stray


def test_layered_add_idempotent_and_merged_dictionary(spark, corpus_dir, tmp_path):
    """Layered adds must be replay-safe (same batch re-added => bit-identical
    index, layered count stays 1) and the LOGICAL dictionary (base + the
    segment's SIDE dictionary, O(new docs) — the base is never rewritten)
    must carry exactly the df/cf/term_hash a clean full build computes."""
    import os as _os

    from data_prepper_spark.query.common import dict_df
    from data_prepper_spark.tableio import TableIO

    s1, s2, full = _split_corpus(corpus_dir, tmp_path)
    idx = str(tmp_path / "idx_lay_idem")
    clean = str(tmp_path / "idx_clean_lay")
    build_index(spark, s1, idx, n_shards=8, units=1, shard_groups=2)
    base_dict_mtime = _os.path.getmtime(resolved_table_path(idx, "dictionary"))
    add_to_index(spark, s2, idx, n_shards=8, units=1, remerge=False)
    # the base dictionary was NOT rewritten (O(new docs) contract)
    assert _os.path.getmtime(resolved_table_path(idx, "dictionary")) == base_dict_mtime
    # the side dictionary lives inside the blocks generation
    assert _os.path.isdir(
        _os.path.join(resolved_table_path(idx, "posting_blocks"), "_segdict")
    )

    dexpr = "bit_xor(xxhash64(term, term_hash, df, cf))"

    def logical_dict_hash(path):
        return (
            dict_df(spark, TableIO(path))
            .selectExpr(dexpr)
            .collect()[0][0]
        )

    def snap():
        b = _chk(
            spark, resolved_table_path(idx, "posting_blocks"),
            "bit_xor(xxhash64(term_hash, shard, block_id, first_doc_id, n_docs, doc_gaps, tfs, dls))",
        )
        d = logical_dict_hash(idx)
        s = spark.read.parquet(f"{idx}/corpus_stats").collect()[0]
        return (b, d, s["n_docs"], s["avgdl"], s["layered"])

    first = snap()
    assert first[4] == 1
    # replay the same batch: stage A skipped, segment + side dictionary
    # overwritten identically
    add_to_index(spark, s2, idx, n_shards=8, units=1, remerge=False)
    assert snap() == first
    # logical dictionary df/cf/term_hash == clean full build's (max_wtf is
    # advisory while layered — kernels use tf-only bounds — so excluded)
    build_index(spark, full, clean, n_shards=8, units=2, shard_groups=2)
    assert logical_dict_hash(idx) == logical_dict_hash(clean)
    # replay after compaction must also be a no-op (no duplicate segment)
    refresh_index(spark, idx)
    post_refresh = _chk(
        spark, resolved_table_path(idx, "posting_blocks"),
        "bit_xor(xxhash64(term_hash, shard, block_id, first_doc_id, n_docs, doc_gaps, tfs, dls))",
    )
    r = add_to_index(spark, s2, idx, n_shards=8, units=1, remerge=False)
    assert _chk(
        spark, resolved_table_path(idx, "posting_blocks"),
        "bit_xor(xxhash64(term_hash, shard, block_id, first_doc_id, n_docs, doc_gaps, tfs, dls))",
    ) == post_refresh
    assert spark.read.parquet(f"{idx}/corpus_stats").collect()[0]["layered"] == 0
    assert r.n_docs == first[2]


def test_streaming_layered_nrt(spark, corpus_dir, tmp_path):
    """True NRT streaming: every micro-batch writes its own layered
    segment, so docs are searchable as soon as their batch commits (no
    refresh in the loop), rank-identical to a clean batch build; a later
    refresh compacts the micro-segments into the bit-identical canonical
    index."""
    from data_prepper_spark.streaming.index_stream import index_stream_writer

    out = str(tmp_path / "idx_nrt")
    ckpt = str(tmp_path / "ckpt_nrt")
    schema = spark.read.parquet(corpus_dir).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(corpus_dir)
    )
    q = (
        index_stream_writer(stream, out, n_shards=8, checkpoint_dir=ckpt, layered=True)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    clean = str(tmp_path / "idx_clean_nrt")
    rc = build_index(spark, corpus_dir, clean, n_shards=8, units=2, shard_groups=2)
    # searchable NOW, before any refresh: rank identity vs the clean build
    stats = spark.read.parquet(f"{out}/corpus_stats").collect()[0]
    assert stats["layered"] >= 2  # one segment per non-empty micro-batch
    assert (stats["n_docs"],) == (rc.n_docs,)
    en = IndexQueryEngine(spark, out, persist_blocks=False)
    ec = IndexQueryEngine(spark, clean, persist_blocks=False)
    ep = IndexQueryEngine(spark, out, persist_blocks=False, exhaustive_threshold=0)
    for qtext in ("def return value", "the", "class import"):
        want = [(r.rank, r.doc_id, round(r.score, 9)) for r in ec.topk(qtext, 10).collect()]
        assert [(r.rank, r.doc_id, round(r.score, 9)) for r in en.topk(qtext, 10).collect()] == want
        # block-max kernel (tf bounds, per-segment block lists) agrees on ranks
        got_p = [(r.rank, r.doc_id) for r in ep.topk(qtext, 10).collect()]
        assert got_p == [(r_, d) for r_, d, _ in want], qtext
    # compaction: bit-identical canonical blocks
    refresh_index(spark, out, shard_groups=2)
    bexpr = (
        "bit_xor(xxhash64(term_hash, shard, block_id, first_doc_id, n_docs, "
        "doc_gaps, tfs, dls, block_max_tf, block_max_wtf))"
    )
    assert _chk(spark, resolved_table_path(out, "posting_blocks"), bexpr) == _chk(
        spark, resolved_table_path(clean, "posting_blocks"), bexpr
    )
    assert spark.read.parquet(f"{out}/corpus_stats").collect()[0]["layered"] == 0
