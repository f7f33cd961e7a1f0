"""Similarity search over embedding columns (array<float/double>).

Brute-force cosine top-k is the exact baseline: a broadcast of the query
vector + one JVM-side aggregate expression per row (F.zip_with/aggregate),
then TakeOrderedAndProject — no Python, no shuffle beyond the final top-k.

The scale path is LSH bucketing (random signed projections): each vector
hashes to a bucket; queries probe the query's own bucket plus every
bucket within ``probe_hamming`` sign flips (multi-probe — near-boundary
vectors land one flip away, so single-bucket probing loses exactly the
nearest neighbors whose projections sit close to a hyperplane). Persist
with ``write_bucketed`` (partitionBy bucket) and a probe becomes a
partition-pruned scan of probed buckets only.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def cosine_sim(a: Column, b: Column) -> Column:
    return _dot(a, b) / (_norm(a) * _norm(b))


def brute_force_topk(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    query_vec: list[float],
    k: int = 10,
) -> DataFrame:
    """Exact cosine top-k: (id, sim), ties broken by id ascending."""
    q = F.array(*[F.lit(float(x)) for x in query_vec])
    # cast to double BEFORE multiplying: float32 products accumulate
    # differently than float64 and would break oracle agreement
    v = F.col(vec_col).cast("array<double>")
    return (
        df.select(F.col(id_col).alias("id"), cosine_sim(v, q).alias("sim"))
        .orderBy(F.desc("sim"), F.asc("id"))
        .limit(k)
    )


def _hyperplane(dim: int, plane_idx: int) -> list[float]:
    """Deterministic pseudo-random unit-free hyperplane from splitmix64."""
    import numpy as np

    x = np.arange(dim, dtype=np.uint64) + np.uint64(plane_idx * 0x9E3779B9 + 1)
    with np.errstate(over="ignore"):
        z = (x + np.uint64(0x9E3779B97F4A7C15)) * np.uint64(0xBF58476D1CE4E5B9)
        z ^= z >> np.uint64(27)
        z *= np.uint64(0x94D049BB133111EB)
    signs = ((z >> np.uint64(17)) & np.uint64(1)).astype(np.float64) * 2 - 1
    return signs.tolist()


def _bucket_col(vec_col: str, dim: int, n_planes: int, table: int) -> Column:
    bucket = F.lit(0)
    for p in range(n_planes):
        plane = F.array(*[F.lit(v) for v in _hyperplane(dim, table * n_planes + p)])
        bucket = bucket + F.when(_dot(F.col(vec_col), plane) >= 0, F.lit(2**p)).otherwise(0)
    return bucket


def lsh_bucketed(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    n_planes: int = 8,
    n_tables: int = 1,
) -> DataFrame:
    """(id, table, bucket, vec) via random signed projections — the ANN
    scale path. ``n_tables`` independent hash tables (disjoint plane sets)
    trade n_tables x storage for union-of-probes recall: a neighbor is
    missed only if it flips planes in EVERY table, so miss probability
    decays exponentially in n_tables. One row per (vector, table)."""
    tables = F.array(
        *[
            F.struct(
                F.lit(t).alias("table"),
                _bucket_col(vec_col, dim, n_planes, t).alias("bucket"),
            )
            for t in range(n_tables)
        ]
    )
    return df.select(
        F.col(id_col).alias("id"), F.explode(tables).alias("tb"), F.col(vec_col).alias("vec")
    ).select("id", F.col("tb.table").alias("table"), F.col("tb.bucket").alias("bucket"), "vec")


def write_bucketed(bucketed: DataFrame, path: str) -> None:
    """Persist the LSH table partitioned by (table, bucket) — probes then
    read only the probed buckets' files (partition pruning), the move that
    makes a query touch ~(probed/2^n_planes) of a 100 TB table."""
    bucketed.write.mode("overwrite").partitionBy("table", "bucket").parquet(path)


def read_bucketed(spark, path: str) -> DataFrame:
    return spark.read.parquet(path)


def probe_buckets(
    query_vec: list[float],
    dim: int,
    n_planes: int = 8,
    probe_hamming: int = 1,
    table: int = 0,
) -> list[int]:
    """The query's bucket in hash table ``table`` plus all buckets within
    ``probe_hamming`` bit flips (multi-probe LSH: Lv et al., VLDB'07 —
    perturbed buckets hold the near-boundary neighbors)."""
    import itertools

    import numpy as np

    qb = 0
    q = np.array(query_vec)
    for p in range(n_planes):
        if float(np.dot(q, np.array(_hyperplane(dim, table * n_planes + p)))) >= 0:
            qb |= 1 << p
    out = [qb]
    for r in range(1, probe_hamming + 1):
        for flips in itertools.combinations(range(n_planes), r):
            b = qb
            for f in flips:
                b ^= 1 << f
            out.append(b)
    return out


def lsh_topk(
    bucketed: DataFrame,
    query_vec: list[float],
    dim: int,
    k: int = 10,
    n_planes: int = 8,
    probe_hamming: int = 1,
    n_tables: int = 1,
) -> DataFrame:
    """Top-k over the probed LSH buckets (approximate; partition-prunable).

    ``probe_hamming=0, n_tables=1`` reproduces single-bucket probing; the
    defaults probe n_planes+1 buckets per table. Both knobs trade scan
    fraction for recall: multi-probe rescues near-boundary neighbors,
    extra tables rescue neighbors that flipped too many planes in one
    table (miss probability decays exponentially in n_tables). The filter
    is a per-table bucket IN-list, so against a ``write_bucketed`` table
    the scan is partition-pruned to exactly the probed buckets.
    """
    cond = F.lit(False)
    for t in range(n_tables):
        buckets = probe_buckets(query_vec, dim, n_planes, probe_hamming, table=t)
        cond = cond | ((F.col("table") == t) & F.col("bucket").isin(buckets))
    qcol = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        bucketed.where(cond)
        .groupBy("id")
        .agg(F.first("vec").alias("vec"))
        .select("id", cosine_sim(F.col("vec").cast("array<double>"), qcol).alias("sim"))
        .orderBy(F.desc("sim"), F.asc("id"))
        .limit(k)
    )


def embedding_pairs(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    threshold: float | None = None,
    top_n: int | None = None,
    method: str = "lsh",
    n_planes: int = 6,
    n_tables: int = 4,
    round_to: int = 4,
) -> DataFrame:
    """Embedding near-dup pairs: (id_a < id_b, cosine) with cosine >=
    ``threshold`` and/or the global ``top_n`` most-similar pairs (rank on
    the rounded cosine with id tiebreaks, so the cut is reproducible
    across engines).

    method="exact": all-pairs self-join — the oracle/verification path,
    O(n^2), for small inputs and correctness gates only.

    method="lsh": the scale path — candidates are pairs sharing an LSH
    bucket in ANY of ``n_tables`` hash tables (random signed
    projections, the same family the ANN path uses), deduped, then
    verified with the exact cosine. Never all-pairs: the join is an
    equi-join on (table, bucket), cost ~ sum of bucket sizes squared /
    2^n_planes, and a true near-dup pair collides in at least one table
    with probability -> 1 exponentially in n_tables. The same
    candidates-then-exact-verify shape as minhash_lsh_pairs, so false
    positives are eliminated entirely; recall is governed by the
    (n_planes, n_tables) s-curve (asserted >= threshold in tests).
    """
    if threshold is None and top_n is None:
        raise ValueError("embedding_pairs needs threshold and/or top_n")
    ids = F.col(id_col)
    if method == "exact":
        l = df.select(ids.alias("id_a"), F.col(vec_col).cast("array<double>").alias("__va"))
        r = df.select(ids.alias("id_b"), F.col(vec_col).cast("array<double>").alias("__vb"))
        pairs = l.join(r, F.col("id_a") < F.col("id_b"))
    elif method == "lsh":
        b = lsh_bucketed(df, vec_col, id_col, dim, n_planes=n_planes, n_tables=n_tables)
        cand = (
            b.alias("l")
            .join(b.alias("r"), ["table", "bucket"])
            .where(F.col("l.id") < F.col("r.id"))
            .select(
                F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"),
                F.col("l.vec").alias("__va"), F.col("r.vec").alias("__vb"),
            )
            .dropDuplicates(["id_a", "id_b"])
        )
        pairs = cand.select(
            "id_a", "id_b",
            F.col("__va").cast("array<double>").alias("__va"),
            F.col("__vb").cast("array<double>").alias("__vb"),
        )
    else:
        raise ValueError(f"unknown method: {method!r}")
    scored = pairs.select(
        "id_a", "id_b",
        F.round(cosine_sim(F.col("__va"), F.col("__vb")), round_to).alias("cosine"),
    )
    if threshold is not None:
        scored = scored.where(F.col("cosine") >= threshold)
    if top_n is not None:
        scored = scored.orderBy(
            F.desc("cosine"), F.asc("id_a"), F.asc("id_b")
        ).limit(top_n)
    return scored


# ------------------------------------------------------------------ IVF --
def ivf_train(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    n_centroids: int = 16,
    sample_size: int = 4096,
    iters: int = 10,
) -> list[list[float]]:
    """Spherical k-means centroids from a DETERMINISTIC sample (ordered by
    a hash of the id — reproducible across runs and cluster sizes, unlike
    rdd.sample, and spread over the whole id range, so ids assigned in
    cluster order do not leave later clusters out of the sample).

    IVF economics at 100 TB: training touches a driver-side sample
    (thousands of rows), assignment is one Arrow-batched matmul pass over
    the table, and a query then scans only ``nprobe``/``n_centroids`` of
    the data via partition pruning — the inverted-file counterpart of the
    LSH bucket path, better when the corpus is clustered rather than
    uniform. Public algorithm (spherical k-means / IVF-Flat, e.g. the
    FAISS docs); implementation is plain numpy."""
    import numpy as np

    rows = (
        df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("v"))
        .orderBy(F.xxhash64("id"), "id")
        .limit(sample_size)
        .collect()
    )
    x = np.array([list(r.v) for r in rows], dtype=np.float64)
    x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
    rng = np.random.default_rng(42)
    cents = x[rng.choice(len(x), size=min(n_centroids, len(x)), replace=False)]
    for _ in range(iters):
        assign = np.argmax(x @ cents.T, axis=1)
        for c in range(len(cents)):
            m = x[assign == c]
            if len(m):
                mu = m.mean(axis=0)
                cents[c] = mu / max(np.linalg.norm(mu), 1e-12)
    return [[float(v) for v in c] for c in cents]


def ivf_assign(
    df: DataFrame, vec_col: str, id_col: str, centroids: list[list[float]]
) -> DataFrame:
    """(id, centroid, vec): nearest-centroid assignment as ONE Arrow
    batched matmul per batch (no per-row Python, no shuffle). Persist
    with ``partitionBy("centroid")`` and probes become partition-pruned
    scans (write_bucketed's IVF twin)."""
    import numpy as np
    import pandas as pd

    cmat = np.array(centroids, dtype=np.float64).T  # dim x k

    def run(batches):
        for b in batches:
            x = np.array([list(v) for v in b["vec"]], dtype=np.float64)
            if len(x) == 0:
                b["centroid"] = pd.Series(dtype="int32")
                yield b[["id", "centroid", "vec"]]
                continue
            xn = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-12)
            b["centroid"] = np.argmax(xn @ cmat, axis=1).astype("int32")
            yield b[["id", "centroid", "vec"]]

    base = df.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    return base.mapInPandas(run, "id long, centroid int, vec array<float>")


def ivf_topk(
    assigned: DataFrame,
    query_vec: list[float],
    centroids: list[list[float]],
    k: int = 10,
    nprobe: int = 4,
) -> DataFrame:
    """Top-k over the ``nprobe`` centroids nearest the query — the scan
    touches only those partitions; exact cosine within them (IVF-Flat)."""
    import numpy as np

    q = np.array(query_vec, dtype=np.float64)
    q /= max(np.linalg.norm(q), 1e-12)
    sims = np.array(centroids, dtype=np.float64) @ q
    probe = [int(i) for i in np.argsort(-sims)[:nprobe]]
    qcol = F.array(*[F.lit(float(x)) for x in query_vec])
    return (
        assigned.where(F.col("centroid").isin(probe))
        .select("id", cosine_sim(F.col("vec").cast("array<double>"), qcol).alias("sim"))
        .orderBy(F.desc("sim"), F.asc("id"))
        .limit(k)
    )


def embedding_dup_clusters(
    df: DataFrame,
    vec_col: str,
    id_col: str,
    dim: int,
    threshold: float = 0.9,
    method: str = "lsh",
    n_planes: int = 6,
    n_tables: int = 4,
) -> DataFrame:
    """(id, component): connected components over the embedding near-dup
    pair graph — the 'which embeddings are the same item' step (keep
    id == component, drop the rest), composing embedding_pairs with the
    shared min-label propagation (operators/dedupe.connected_components).
    Every id appears (singletons are their own component)."""
    from .dedupe import connected_components

    pairs = embedding_pairs(
        df, vec_col, id_col, dim=dim, threshold=threshold,
        method=method, n_planes=n_planes, n_tables=n_tables,
    ).select("id_a", "id_b")
    ids = df.select(F.col(id_col).alias("id"))
    return connected_components(pairs, ids=ids)
