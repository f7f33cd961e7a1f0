"""Round-4 fixes: ADVICE r3 findings (star-edge verification exemption,
refresh ledger-before-swap crash window, iforest empty-sample guard,
generation GC grace period, DSL msm/term robustness)."""

from __future__ import annotations

import os
import shutil

import numpy as np
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
    half = len(files) // 2
    s1, s2, full = (str(tmp_path / n) for n in ("s1", "s2", "full"))
    for d in (s1, s2, full):
        os.makedirs(d, exist_ok=True)
    for i, f in enumerate(files):
        shutil.copy(os.path.join(corpus_dir, f), (s1 if i < half else s2))
        shutil.copy(os.path.join(corpus_dir, f), full)
    return s1, s2, full


# ---------------------------------------------------------------- dedupe --
def test_star_edges_exempt_from_jaccard_verification(spark):
    """Oversized-bucket star edges are connectivity edges: they must
    survive verification even when their jaccard is below the threshold,
    while ordinary full pairs are still filtered."""
    from data_prepper_spark.operators.dedupe import minhash_lsh_pairs

    t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    t2 = "one two three four five six seven eight nine ten eleven"
    rows = [(i, t1) for i in range(1, 7)] + [(7, t2), (8, t2)]
    df = spark.createDataFrame(rows, "id long, content string")
    out = minhash_lsh_pairs(
        df, "content", "id",
        num_perm=16, bands=4, shingle_n=3,
        verify_threshold=1.01,  # impossible: every full pair is filtered
        max_bucket_size=3,
    ).collect()
    got = {(r.id_a, r.id_b) for r in out}
    # docs 1-6 share every LSH bucket (identical text) -> oversized bucket
    # -> star to min id survives unconditionally; (7, 8) is a small-bucket
    # full pair, jaccard 1.0 < 1.01 -> filtered
    assert got == {(1, b) for b in range(2, 7)}, got
    assert all(abs(r.jaccard - 1.0) < 1e-12 for r in out)


def test_capped_pairs_without_verify_schema_stable(spark):
    from data_prepper_spark.operators.dedupe import minhash_lsh_pairs

    t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame([(i, t1) for i in range(1, 5)], "id long, content string")
    out = minhash_lsh_pairs(df, "content", "id", max_bucket_size=2)
    assert out.columns == ["id_a", "id_b"]
    assert {(r.id_a, r.id_b) for r in out.collect()} == {(1, 2), (1, 3), (1, 4)}


# --------------------------------------------------------------- anomaly --
def test_iforest_empty_sample_guard():
    """A cut landing exactly on the sample minimum leaves one side's
    sample empty while eval points still route there — must not crash."""
    from data_prepper_spark.operators.anomaly import _iforest_scores

    class FakeRng:
        def choice(self, n, size, replace):
            return np.arange(size)

        def integers(self, n):
            return 0

        def uniform(self, lo, hi):
            return lo  # worst case: empty left sample

    X = np.array([[1.0], [2.0], [0.0]])
    scores = _iforest_scores(X, n_trees=1, sample_size=2, rng=FakeRng())
    assert scores.shape == (3,)
    assert np.isfinite(scores).all()
    assert ((scores > 0) & (scores <= 1)).all()


# ------------------------------------------------------------------- dsl --
def test_parse_msm_forms():
    from data_prepper_spark.query.dsl import _parse_msm

    assert _parse_msm(2, 5) == 2
    assert _parse_msm("3", 5) == 3
    assert _parse_msm(-1, 5) == 4
    assert _parse_msm("-2", 5) == 3
    assert _parse_msm("75%", 4) == 3
    assert _parse_msm("75%", 3) == 2  # rounded down
    assert _parse_msm("-25%", 4) == 3
    assert _parse_msm("50%", 2) == 1
    assert _parse_msm(10, 3) == 3  # clamped
    with pytest.raises(ValueError):
        _parse_msm("abc", 3)


def test_msm_percentage_equals_integer(spark, index_dir):
    from data_prepper_spark.query.dsl import search

    should = [{"match": {"content": "def"}}, {"match": {"content": "buffer"}}]
    pct = {"bool": {"should": should, "minimum_should_match": "100%"}}
    exact = {"bool": {"should": should, "minimum_should_match": 2}}
    got = search(spark, index_dir, pct, size=10000).collect()
    want = search(spark, index_dir, exact, size=10000).collect()
    assert [(r.rank, r.doc_id, r.score) for r in got] == [
        (r.rank, r.doc_id, r.score) for r in want
    ]


def test_term_object_form(spark, index_dir):
    from data_prepper_spark.query.dsl import search

    plain = {"bool": {"must": [{"match": {"content": "def"}}],
                      "filter": [{"term": {"lang": "python"}}]}}
    obj = {"bool": {"must": [{"match": {"content": "def"}}],
                    "filter": [{"term": {"lang": {"value": "python"}}}]}}
    got = search(spark, index_dir, obj, size=20).collect()
    want = search(spark, index_dir, plain, size=20).collect()
    assert [(r.rank, r.doc_id) for r in got] == [(r.rank, r.doc_id) for r in want]
    with pytest.raises(ValueError, match="value"):
        search(spark, index_dir, {"bool": {"must": [{"match": {"content": "def"}}],
                                           "filter": [{"term": {"lang": {"vlaue": "x"}}}]}})


# ------------------------------------------------ refresh crash ordering --
def test_refresh_ledger_commits_before_pointer_swap(spark, corpus_dir, tmp_path, monkeypatch):
    """ADVICE r3 (medium): crash AFTER the generation swap but before the
    ledger append let a replayed layered add duplicate its postings. The
    fix appends the ledger (invalidated/compacted/done) BEFORE the swap;
    a crash between the two leaves the old generation current with the
    layered docs visible, and a replayed add no-ops on the 'compacted'
    rows. Completing the refresh then matches a clean build."""
    import data_prepper_spark.tableio as tio

    s1, s2, full = _split_corpus(corpus_dir, tmp_path)
    idx = str(tmp_path / "idx_preswap")
    clean = str(tmp_path / "idx_preswap_clean")
    build_index(spark, s1, idx, n_shards=8, units=1, shard_groups=2)
    add_to_index(spark, s2, idx, n_shards=8, units=1, remerge=False)
    pre = IndexQueryEngine(spark, idx, persist_blocks=False).topk("def return value", 10).collect()

    orig = tio.TableIO.set_gen_state

    def boom(self, **kw):
        if "posting_blocks" in kw:
            raise RuntimeError("injected pre-swap crash")
        return orig(self, **kw)

    monkeypatch.setattr(tio.TableIO, "set_gen_state", boom)
    with pytest.raises(RuntimeError, match="pre-swap"):
        refresh_index(spark, idx)
    monkeypatch.setattr(tio.TableIO, "set_gen_state", orig)

    # old generation still current and queryable, layered docs visible
    post = IndexQueryEngine(spark, idx, persist_blocks=False).topk("def return value", 10).collect()
    assert post == pre
    # replayed add of the same batch recognizes the 'compacted' ledger
    # rows and no-ops instead of writing a duplicate segment
    groups_before = set(os.listdir(resolved_table_path(idx, "posting_blocks")))
    add_to_index(spark, s2, idx, n_shards=8, units=1, remerge=False)
    groups_after = set(os.listdir(resolved_table_path(idx, "posting_blocks")))
    assert groups_after == groups_before
    # completing the refresh equals a clean build bit-identically
    refresh_index(spark, idx)
    build_index(spark, full, clean, n_shards=8, units=2, shard_groups=2)
    bexpr = (
        "bit_xor(xxhash64(term_hash, shard, block_id, first_doc_id, n_docs, "
        "doc_gaps, tfs, dls, block_max_tf, block_max_wtf))"
    )

    def _chk(path):
        return spark.read.parquet(path).select(F.expr(bexpr)).collect()[0][0]

    assert _chk(resolved_table_path(idx, "posting_blocks")) == _chk(
        resolved_table_path(clean, "posting_blocks")
    )


# -------------------------------------------------------- gc grace period --
def test_gc_retention_keeps_pinned_reader_generation(spark, corpus_dir, tmp_path):
    """Default DPS_GC_RETAIN=1: an engine opened before a refresh keeps
    reading its pinned generation (blocks AND dictionary) after the swap;
    a re-opened engine sees the merged corpus."""
    s1, s2, _ = _split_corpus(corpus_dir, tmp_path)
    idx = str(tmp_path / "idx_retain")
    build_index(spark, s1, idx, n_shards=8, units=1, shard_groups=2)
    engine = IndexQueryEngine(spark, idx, persist_blocks=False)
    pre = engine.topk("def return value", 10).collect()

    add_to_index(spark, s2, idx, n_shards=8, units=1, remerge=True)  # gen bump

    # same engine: identical pre-refresh answer (pinned snapshot)
    assert engine.topk("def return value", 10).collect() == pre
    # a query with UNCACHED terms forces a dictionary read -> must hit the
    # retained old-generation dictionary, not FileNotFound or new stats
    fresh_terms = engine.topk("import self data", 5).collect()
    assert isinstance(fresh_terms, list)
    # re-opened engine sees the merged corpus
    fresh = IndexQueryEngine(spark, idx, persist_blocks=False)
    assert fresh.n_docs > engine.n_docs
    assert os.path.basename(resolved_table_path(idx, "posting_blocks")).endswith(".gen-1")
    # old generation dir retained on disk for the grace period
    assert os.path.isdir(os.path.join(idx, "posting_blocks"))


# ------------------------------------------------------- dsl fast routing --
def test_dsl_single_leaf_routes_to_block_index(spark, index_dir):
    """A bare match compiles to the block-max WAND operator: the routed
    call scans posting_blocks, never the (much larger) postings table —
    and the result equals the general compiler's to 1e-9. The engine
    answers within its driver-path bounds at call time, so the scans are
    read off the parquet reads the call makes, not the returned plan."""
    from pyspark.sql import DataFrameReader
    from pyspark.sql import functions as F

    from data_prepper_spark.query.dsl import _Compiler, search

    dsl = {"match": {"content": "def return value"}}
    reads = []
    parquet = DataFrameReader.parquet

    def spy(self, *paths, **kw):
        reads.extend(paths)
        return parquet(self, *paths, **kw)

    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(DataFrameReader, "parquet", spy)
        routed = search(spark, index_dir, dsl, size=10)
    scanned = " ".join(reads)
    assert "posting_blocks" in scanned
    assert "/postings" not in scanned
    # equivalence with the general compiler (pre-routing semantics)
    full = _Compiler(spark, index_dir).compile(dsl)
    want = [
        (i + 1, r.doc_id, round(r.score, 9))
        for i, r in enumerate(
            full.orderBy(F.desc("score"), F.asc("doc_id")).limit(10).collect()
        )
    ]
    got = [(r.rank, r.doc_id, round(r.score, 9)) for r in routed.collect()]
    assert got == want


def test_dsl_routed_filter_and_boost_equivalence(spark, index_dir):
    """Routed shapes (match+filters, boost, pagination) stay equivalent
    to the unrouted compiler pipeline."""
    from pyspark.sql import functions as F

    from data_prepper_spark.query.dsl import _Compiler, search

    shapes = [
        ({"bool": {"must": [{"match": {"content": "def return"}}],
                   "filter": [{"term": {"lang": "python"}},
                              {"range": {"doc_len": {"gte": 10}}}]}}, 10, 0),
        ({"match": {"content": {"query": "buffer parse", "boost": 2.5}}}, 8, 0),
        ({"match": {"content": "def return"}}, 5, 5),  # pagination
        ({"prefix": {"content": "par"}}, 10, 0),
    ]
    for dsl, size, from_ in shapes:
        got = [
            (r.rank, r.doc_id, round(r.score, 9))
            for r in search(spark, index_dir, dsl, size=size, from_=from_).collect()
        ]
        comp = _Compiler(spark, index_dir)
        full = comp.compile(dsl)
        ordered = full.orderBy(F.desc("score"), F.asc("doc_id")).limit(from_ + size).collect()
        want = [
            (i + 1, r.doc_id, round(r.score, 9))
            for i, r in enumerate(ordered)
        ][from_:]
        assert got == want, dsl


# --------------------------------------------------- segment dictionaries --
def test_segdict_new_terms_searchable_without_base_rewrite(spark, corpus_dir, tmp_path):
    """A layered add whose docs contain BRAND-NEW terms must make them
    searchable (term stats, WAND, prefix expansion) through the segment
    side dictionary alone — the base dictionary file is not rewritten —
    and a refresh folds them into the full dictionary."""
    import os as _os

    from data_prepper_spark.query.multiterm import prefix_topk
    from data_prepper_spark.query.wand import bm25_topk_wand

    idx = str(tmp_path / "idx_segdict")
    build_index(spark, corpus_dir, idx, n_shards=8, units=2, shard_groups=2)
    novel = "zqxjkvw"  # analyzer-stable, absent from the corpus
    assert bm25_topk_wand(spark, idx, novel, 5).count() == 0
    extra_src = str(tmp_path / "segdict_extra")
    spark.createDataFrame(
        [("r9", "p9.py", "c9", "python", f"def {novel}_handler(): return {novel}")],
        "repo string, path string, commit string, lang string, content string",
    ).coalesce(1).write.mode("overwrite").parquet(extra_src)
    mtime = _os.path.getmtime(resolved_table_path(idx, "dictionary"))
    add_to_index(spark, extra_src, idx, n_shards=8, units=1, remerge=False)
    assert _os.path.getmtime(resolved_table_path(idx, "dictionary")) == mtime
    # novel term found via WAND (term stats from the side dictionary)
    hits = bm25_topk_wand(spark, idx, novel, 5).collect()
    assert len(hits) == 1
    # and via dictionary-predicate expansion (prefix rewrite)
    assert prefix_topk(spark, idx, novel[:4], 5).count() == 1
    # refresh folds the segment stats into the rebuilt base dictionary
    refresh_index(spark, idx)
    assert not _os.path.isdir(
        _os.path.join(resolved_table_path(idx, "posting_blocks"), "_segdict")
    )
    assert bm25_topk_wand(spark, idx, novel, 5).count() == 1


# ------------------------------------------------------------ geoip mmdb --
def test_mmdb_reader_roundtrip(tmp_path):
    """Fixture writer -> reader roundtrip: every address inside a network
    resolves to its record, addresses outside resolve to None."""
    from data_prepper_spark.operators.mmdb import MMDBReader, write_mmdb

    p = str(tmp_path / "fix.mmdb")
    write_mmdb(p, [
        ("10.0.0.0/8", {"country": {"iso_code": "US", "names": {"en": "United States"}}}),
        ("192.168.1.0/24", {"country": {"iso_code": "DE"}, "asn": 64512}),
        ("8.8.8.8/32", {"country": {"iso_code": "AU"}, "lat": -33.5}),
    ])
    r = MMDBReader(p)
    assert r.meta["database_type"] == "Test-GeoIP"
    assert r.lookup("10.1.2.3")["country"]["iso_code"] == "US"
    assert r.lookup("10.255.255.255")["country"]["names"]["en"] == "United States"
    assert r.lookup("192.168.1.77") == {"country": {"iso_code": "DE"}, "asn": 64512}
    got = r.lookup("8.8.8.8")
    assert got["country"]["iso_code"] == "AU" and abs(got["lat"] + 33.5) < 1e-12
    assert r.lookup("8.8.8.9") is None
    assert r.lookup("11.0.0.1") is None
    assert r.lookup("192.168.2.1") is None


def test_geo_enrich_mmdb_parity_with_range_table(spark, tmp_path):
    """The mmdb path and the broadcast range-table path must enrich
    identically over the same geo data."""
    from data_prepper_spark.operators.enrich import geo_enrich, geo_enrich_mmdb
    from data_prepper_spark.operators.mmdb import write_mmdb

    nets = [
        ("10.0.0.0/8", "US"),
        ("192.168.0.0/16", "DE"),
        ("172.16.0.0/12", "FR"),
        ("8.8.8.0/24", "AU"),
    ]
    p = str(tmp_path / "parity.mmdb")
    write_mmdb(p, [(c, {"country": {"iso_code": cc}}) for c, cc in nets])

    def bounds(cidr):
        addr, _, plen = cidr.partition("/")
        a, b, c, d = (int(x) for x in addr.split("."))
        lo = (a << 24) | (b << 16) | (c << 8) | d
        span = 1 << (32 - int(plen))
        return lo, lo + span - 1

    geo = spark.createDataFrame(
        [(*bounds(c), cc) for c, cc in nets], "net_lo long, net_hi long, country string"
    )
    ips = ["10.5.5.5", "192.168.3.4", "172.20.0.9", "8.8.8.123",
           "9.9.9.9", "203.0.113.50", "172.32.0.1"]
    df = spark.createDataFrame([(i, ip) for i, ip in enumerate(ips)], "id long, ip string")
    want = {
        (r.id, r.country)
        for r in geo_enrich(df, "ip", geo).select("id", "country").collect()
    }
    got = {
        (r.id, r.country)
        for r in geo_enrich_mmdb(df, "ip", p, {"country": "country.iso_code"})
        .select("id", "country").collect()
    }
    assert got == want
    assert {c for _i, c in got} == {"US", "DE", "FR", "AU", None}


# ------------------------------------------------------- user_agent rules --
def test_user_agent_extended_rules(spark):
    from data_prepper_spark.operators.enrich import user_agent

    uas = [
        ("Mozilla/5.0 (X11; CrOS x86_64) Chrome/120.0 Whale/3.21.192.18 Safari/537.36", "Whale", "3.21.192.18"),
        ("Mozilla/5.0 (Linux; Android 10; KFMAWI) Silk/119.2 Chrome/119.0 Safari/537.36", "Amazon Silk", "119.2"),
        ("Mozilla/5.0 AppleWebKit/537.36 (compatible; GPTBot/1.0; +https://openai.com/gptbot)", "GPTBot", "1.0"),
        ("Mozilla/5.0 (compatible; Baiduspider/2.0; +http://www.baidu.com/search/spider.html)", "Baiduspider", "2.0"),
        ("Mozilla/5.0 (Mobile; LYF/F300B/LYF-F300B; Android; rv:48.0) Gecko/48.0 Firefox/48.0 KAIOS/2.5", "Firefox", "48.0"),
    ]
    df = spark.createDataFrame([(i, u) for i, (u, _, _) in enumerate(uas)], "id long, ua string")
    rows = {r.id: r for r in user_agent(df, "ua").select("id", "user_agent.*").collect()}
    for i, (_u, name, ver) in enumerate(uas):
        assert rows[i]["name"] == name, (i, rows[i])
        assert rows[i]["version"] == ver, (i, rows[i])
    # KaiOS os family from the last UA
    assert rows[4]["os"] == "KaiOS" and rows[4]["os_version"] == "2.5"
    # device families
    dev = spark.createDataFrame(
        [(0, "Mozilla/5.0 (PlayStation 5/SmartTV) AppleWebKit/605.1.15"),
         (1, "Mozilla/5.0 (Windows NT 10.0; Xbox; Xbox One)"),
         (2, "Mozilla/5.0 (Nintendo Switch; WifiWebAuthApplet)"),
         (3, "Mozilla/5.0 (Linux; Android 9; KFMAWI Build/PS7326)")],
        "id long, ua string")
    drows = {r.id: r["user_agent"]["device"] for r in user_agent(dev, "ua").collect()}
    assert drows[0] == "PlayStation" and drows[1] == "Xbox"
    assert drows[2] == "Nintendo" and drows[3] == "Kindle"
