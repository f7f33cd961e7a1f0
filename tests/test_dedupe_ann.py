"""Dedup suite + ANN: verification stages, pigeonhole blocking, recall.

Covers the round-1 weak spots: minhash LSH now verifies candidates with
exact Jaccard, simhash has a Hamming matcher whose blocking is provably
exact, exact Jaccard de-skews hot shingles, and multi-probe LSH top-k
holds recall against the brute-force baseline.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_prepper_spark.operators import dedupe, similarity

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def emb(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet")


def _pairset(df):
    return {(r["id_a"], r["id_b"]) for r in df.collect()}


def test_minhash_verified_equals_exact(docs):
    """Verified LSH output == exact Jaccard at the same threshold (the
    (32,16)-band miss probability at s=0.8 is ~1e-7)."""
    verified = dedupe.minhash_lsh_pairs(
        docs, "text", "doc_id", num_perm=32, bands=16, shingle_n=2,
        verify_threshold=0.8,
    )
    exact = dedupe.jaccard_pairs(docs, "text", "doc_id", threshold=0.8, shingle_n=2)
    assert _pairset(verified) == _pairset(exact)
    # jaccard values agree too, not just the pair set
    v = {(r["id_a"], r["id_b"]): r["jaccard"] for r in verified.collect()}
    e = {(r["id_a"], r["id_b"]): r["jaccard"] for r in exact.collect()}
    for k in v:
        assert v[k] == pytest.approx(e[k])


def test_minhash_verify_kills_false_positives(spark):
    # two docs sharing a couple of shingles but far below threshold:
    # if LSH ever buckets them together, verification must drop them
    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "alpha beta nothing else matches here at all truly"),
        (3, "alpha beta gamma delta epsilon zeta"),  # exact dup of 1
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedupe.minhash_lsh_pairs(
        df, "text", "doc_id", num_perm=16, bands=8, shingle_n=1, verify_threshold=0.9
    )
    assert _pairset(out) == {(1, 3)}


def test_jaccard_df_cutoff_bounds_hot_shingle(spark):
    # 30 docs all sharing the hot token "common"; only two real near-dups.
    # With the cutoff the hot shingle is dropped: the join emits only the
    # true pair instead of ~30^2/2 candidate rows.
    rows = [(i, f"common unique{i} filler{i}") for i in range(30)]
    rows += [(100, "common same same2 same3"), (101, "common same same2 same3")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedupe.jaccard_pairs(
        df, "text", "doc_id", threshold=0.9, shingle_n=1, max_shingle_df=10
    )
    assert _pairset(out) == {(100, 101)}
    # and the surviving pair scores 1.0 over its discriminative shingles
    assert out.collect()[0]["jaccard"] == pytest.approx(1.0)


def test_simhash_pairs_blocking_exact(docs):
    """Pigeonhole blocking finds EXACTLY the pairs a brute-force cross
    join finds at Hamming <= 3."""
    sig = dedupe.simhash64(docs, "text", "doc_id")
    blocked = dedupe.simhash_pairs(docs, "text", "doc_id", max_hamming=3)
    a, b = sig.alias("a"), sig.alias("b")
    brute = (
        a.crossJoin(b)
        .where(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .where("hamming <= 3")
    )
    assert _pairset(blocked) == _pairset(brute)
    assert blocked.count() > 0  # the corpus has near-dups; test is non-vacuous


def test_md5_hash60_matches_duckdb(spark):
    import duckdb

    words = ["alpha", "tokenize", "x", "Zebra42"]
    df = spark.createDataFrame([(w,) for w in words], "w string")
    got = {
        r["w"]: r["h"]
        for r in df.select("w", dedupe.md5_hash60(F.col("w")).alias("h")).collect()
    }
    con = duckdb.connect()
    for w in words:
        (exp,) = con.execute(
            "select ('0x' || substr(md5(?), 1, 15))::BIGINT", [w]
        ).fetchone()
        assert got[w] == exp


def _clustered_vectors(spark, n_clusters=50, per_cluster=12, dim=64, noise=0.05):
    """Planted-neighbor embeddings: real embedding tables are clustered
    (near-dups, translations, paraphrases). The driver's synthetic
    embeddings are isotropic-random (top-10 cosine ~0.33 at dim 64 — pure
    noise), where NO sublinear ANN can separate neighbors from bulk, so
    recall is asserted on planted structure instead."""
    import numpy as np

    rng = np.random.RandomState(7)
    base = rng.randn(n_clusters, dim)
    base /= np.linalg.norm(base, axis=1, keepdims=True)
    rows = []
    vid = 0
    for c in range(n_clusters):
        for _ in range(per_cluster):
            v = base[c] + noise * rng.randn(dim)
            rows.append((vid, c, [float(x) for x in v]))
            vid += 1
    return spark.createDataFrame(rows, "vec_id long, cluster long, embedding array<double>")


def test_ann_multiprobe_recall(spark):
    """recall@10 of multi-probe LSH vs brute force >= 0.9 averaged over
    queries (single-bucket probing is the round-1 recall cliff)."""
    df = _clustered_vectors(spark)
    dim = 64
    bucketed = similarity.lsh_bucketed(
        df, "embedding", "vec_id", dim=dim, n_planes=6, n_tables=3
    )
    bucketed.cache()
    bucketed.count()
    recalls, single = [], []
    for qid in [0, 40, 111, 222, 333]:
        qvec = list(df.where(F.col("vec_id") == qid).select("embedding").first()[0])
        truth = {r["id"] for r in similarity.brute_force_topk(df, "embedding", "vec_id", qvec, k=10).collect()}
        approx = {r["id"] for r in similarity.lsh_topk(bucketed, qvec, dim=dim, k=10, n_planes=6, probe_hamming=2, n_tables=3).collect()}
        sgl = {r["id"] for r in similarity.lsh_topk(bucketed, qvec, dim=dim, k=10, n_planes=6, probe_hamming=0).collect()}
        recalls.append(len(truth & approx) / 10)
        single.append(len(truth & sgl) / 10)
    bucketed.unpersist()
    assert sum(recalls) / len(recalls) >= 0.9, recalls
    # multi-probe must dominate the single-bucket path it replaces
    assert sum(recalls) >= sum(single), (recalls, single)


def test_write_bucketed_partition_prunes(emb, tmp_path):
    dim = len(emb.select("embedding").first()[0])
    bucketed = similarity.lsh_bucketed(emb, "embedding", "vec_id", dim=dim, n_planes=4)
    path = str(tmp_path / "ann")
    similarity.write_bucketed(bucketed, path)
    table = similarity.read_bucketed(emb.sparkSession, path)
    probe = table.where(F.col("bucket") == 3)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    # partition filter must reach the scan (pruned read, not a full scan)
    assert "PartitionFilters: [" in plan and "bucket" in plan.split("PartitionFilters")[1][:120]
    got = similarity.lsh_topk(table, [0.1] * dim, dim=dim, k=5, n_planes=4)
    assert got.count() <= 5


def test_connected_components_chain_and_cliques(spark):
    """Min-label propagation: a path graph (worst diameter case), a
    clique, an isolated node."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (10, 12), (11, 12)],
        "id_a long, id_b long",
    )
    ids = spark.createDataFrame([(i,) for i in [1, 2, 3, 4, 10, 11, 12, 99]], "id long")
    got = {r["id"]: r["component"] for r in
           dedupe.connected_components(pairs, ids).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10, 99: 99}


def test_connected_components_on_real_pairs(docs):
    """Every pair's two ends share a component; keep-set = component reps."""
    pairs = dedupe.jaccard_pairs(docs, "text", "doc_id", threshold=0.5, shingle_n=1,
                                 max_shingle_df=100)
    comp = dedupe.connected_components(pairs, docs.select("doc_id"))
    labels = {r["id"]: r["component"] for r in comp.collect()}
    for r in pairs.collect():
        assert labels[r["id_a"]] == labels[r["id_b"]]
    # representative is the smallest member of its component
    by_comp = {}
    for i, c in labels.items():
        by_comp.setdefault(c, []).append(i)
    for c, members in by_comp.items():
        assert c == min(members)


def test_connected_components_iteration_cap_raises(spark):
    # a 5-node path needs 4 propagation rounds; cap at 2 must fail loudly
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(1, 5)], "id_a long, id_b long"
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        dedupe.connected_components(pairs, max_iterations=2)


def test_minhash_bucket_cap_bounds_giant_cluster(spark):
    """Giant-cluster guard: a 2000-copy duplicate cluster must emit O(m)
    star pairs (to the bucket's min-id representative, diameter 2) instead
    of O(m^2), while connected_components over the capped pairs still
    recovers the identical clustering."""
    m = 2000
    dup = [(i, "the same boilerplate license header repeated verbatim") for i in range(m)]
    distinct = [
        (10_000 + i, " ".join(f"w{i}x{j}" for j in range(12)))
        for i in range(20)
    ]
    df = spark.createDataFrame(dup + distinct, "doc_id long, text string")
    capped = dedupe.minhash_lsh_pairs(
        df, "text", "doc_id", num_perm=16, bands=4, shingle_n=2, max_bucket_size=50
    )
    n_capped = capped.count()
    # star emission: <= bands * (m - 1) + small-bucket noise, vs ~2M uncapped
    assert n_capped <= 4 * (m - 1) + 100, n_capped
    comps = dedupe.connected_components(capped, ids=df.select("doc_id"))
    sizes = sorted(
        r["n"] for r in comps.groupBy("component").agg(F.count(F.lit(1)).alias("n")).collect()
    )
    # one m-sized cluster, every distinct doc alone
    assert sizes[-1] == m and sizes[:-1] == [1] * 20
    # small buckets keep FULL pair enumeration under the cap: a 3-dup
    # cluster still emits all 3 pairs
    tri = [(i, "tiny duplicate snippet body") for i in range(3)] + [
        (99, "completely different text payload here")
    ]
    tdf = spark.createDataFrame(tri, "doc_id long, text string")
    tp = dedupe.minhash_lsh_pairs(
        tdf, "text", "doc_id", num_perm=16, bands=4, shingle_n=2, max_bucket_size=50
    )
    assert {(r.id_a, r.id_b) for r in tp.collect()} == {(0, 1), (0, 2), (1, 2)}


def test_embedding_pairs_lsh_recall(spark):
    """r5 embedding near-dup pairs: the LSH candidate path (bucket-join +
    exact-cosine verify, never all-pairs) must recover >= 90% of the
    exact-threshold pairs and never emit a false positive."""
    import numpy as np

    from data_prepper_spark.operators.similarity import embedding_pairs

    rng = np.random.default_rng(7)
    rows, vid = [], 0
    for v in rng.normal(size=(40, 32)):
        v = v / np.linalg.norm(v)
        rows.append((vid, [float(x) for x in v])); vid += 1
        w = v + rng.normal(scale=0.05, size=32)  # planted near-dup
        w = w / np.linalg.norm(w)
        rows.append((vid, [float(x) for x in w])); vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    exact = {
        (r.id_a, r.id_b)
        for r in embedding_pairs(
            df, "embedding", "vec_id", dim=32, threshold=0.9, method="exact"
        ).collect()
    }
    lsh = {
        (r.id_a, r.id_b)
        for r in embedding_pairs(
            df, "embedding", "vec_id", dim=32, threshold=0.9,
            method="lsh", n_planes=6, n_tables=6,
        ).collect()
    }
    assert exact, "planted near-dups must clear the threshold"
    assert lsh <= exact  # exact verify kills every false positive
    assert len(lsh & exact) / len(exact) >= 0.9


def test_ivf_identity_and_clustered_recall(spark):
    """r5 IVF-Flat: probing ALL centroids is exactly brute force (the
    partition walk loses nothing); on clustered data a narrow probe
    keeps recall@10 >= 0.9."""
    import numpy as np

    from data_prepper_spark.operators.similarity import (
        brute_force_topk,
        ivf_assign,
        ivf_topk,
        ivf_train,
    )

    rng = np.random.default_rng(11)
    centers = rng.normal(size=(6, 24)) * 3
    rows, vid = [], 0
    for c in centers:
        for _ in range(30):
            v = c + rng.normal(size=24)
            v = v / np.linalg.norm(v)
            rows.append((vid, [float(x) for x in v])); vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = ivf_train(df, "embedding", "vec_id", dim=24, n_centroids=6)
    assigned = ivf_assign(df, "embedding", "vec_id", cents)
    q = rows[7][1]
    exact = [r.id for r in brute_force_topk(df, "embedding", "vec_id", q, k=10).collect()]
    allprobe = [
        r.id for r in ivf_topk(assigned, q, cents, k=10, nprobe=len(cents)).collect()
    ]
    assert allprobe == exact  # nprobe=all == brute force, rank-identical
    narrow = {r.id for r in ivf_topk(assigned, q, cents, k=10, nprobe=2).collect()}
    assert len(narrow & set(exact)) / 10 >= 0.9


def test_ivf_train_sample_spans_cluster_sorted_ids(spark):
    """Ids assigned in cluster order with a training sample smaller than
    the table: the sample is ordered by a hash of the id, so it covers
    every cluster (ordering by id took only the first clusters' rows)
    and a narrow probe keeps recall@10 on the last cluster."""
    import numpy as np

    from data_prepper_spark.operators.similarity import (
        brute_force_topk,
        ivf_assign,
        ivf_topk,
        ivf_train,
    )

    rng = np.random.default_rng(5)
    centers = rng.normal(size=(6, 24)) * 3
    rows, vid = [], 0
    for c in centers:
        for _ in range(40):
            v = c + rng.normal(size=24)
            rows.append((vid, [float(x) for x in v / np.linalg.norm(v)])); vid += 1
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents = ivf_train(df, "embedding", "vec_id", dim=24, n_centroids=6, sample_size=60)
    assigned = ivf_assign(df, "embedding", "vec_id", cents)
    q = rows[-3][1]
    exact = [r.id for r in brute_force_topk(df, "embedding", "vec_id", q, k=10).collect()]
    narrow = {r.id for r in ivf_topk(assigned, q, cents, k=10, nprobe=1).collect()}
    assert len(narrow & set(exact)) / 10 >= 0.9
