"""Inverted-index build: docs / postings / dictionary / compressed blocks.

Replaces the reference's delegation of indexing to OpenSearch `_bulk`
(data-prepper-plugins/opensearch/.../OpenSearchSink.java:316) with a native
Spark build. Design choices, justified for a 1000-executor / 100 TB corpus:

- **Document-space sharding instead of runtime salting.** ``shard =
  unsigned(doc_id) >> (64 - log2(n_shards))``. doc_ids are xxhash64 values,
  hence uniform, so shards are balanced by construction. A Zipf-hot term
  ("the", df ~ 10^11 at design scale) is split across all shards, bounding
  every posting-build group to df / n_shards — deterministic skew control
  where AQE alone can't help (groupBy-applyInPandas isn't a join). Shards
  are *disjoint doc_id ranges*, so block-max WAND runs per shard with no
  cross-shard coordination and a cheap top-k merge. This is the classic
  document-partitioned distributed index, expressed as a Spark column.

- **Two shuffles total.** (1) partial-aggregated groupBy(term, doc_id) for
  tf (map-side combine shrinks Zipf duplicates before the exchange);
  (2) repartition to (term, shard) groups for block building. Dictionary
  and corpus_stats are partial-agg rollups that reuse those outputs.

- **Vectorized-only Python.** The single non-JVM step is the block encoder
  (applyInPandas, Arrow batches, the numpy bit-packing codec of
  index/bitpack.py). Tokenize/explode/count/aggregate are all
  whole-stage-codegen built-ins.

- **Resumable** via a build ledger (the analog of the reference's
  lease-based source coordination, core:sourcecoordination/
  LeaseBasedSourceCoordinator.java:141-316): stage A (tokenize -> shard-
  partitioned posting runs + docs) checkpoints per unit of input files;
  stage B (runs -> compressed blocks) checkpoints per shard group and
  reads only that group's runs via partition pruning.
"""

from __future__ import annotations

import math
import os
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, DataFrameWriter, SparkSession
from pyspark.sql import functions as F

from ..analyzer import tokens_col
from ..query.common import live_filter
from ..tableio import TableIO
from ..util import spread
from .bitpack import encode_payload_segmented

K1 = 1.2
B = 0.75
# dps-0.2: block payloads gained a 1-byte codec-tag prefix (LEB128 or
# bit-packed).
# dps-0.3: layered adds write per-segment SIDE dictionaries
# (posting_blocks/<gen>/_segdict/group=N) instead of re-merging the full
# dictionary per micro-batch; query paths union base + segments.
# dps-0.4: one block codec (index/bitpack.py): every buffer is [w][packed
# bytes], with no codec tag and no pad, and >57-bit segments pack at w = 64
# instead of falling back to LEB128.
# An index written by any other version would silently mis-decode its
# blocks, so query paths call check_index_compatibility() before touching
# blocks and fail with a clear "rebuild required" instead.
CODE_VERSION = "dps-0.4"

# blocks are keyed by xxhash64(term), not the term string: the Python
# block encoder and the WAND kernel then touch only fixed-width int64
# columns (no per-posting Python string objects across the Arrow boundary
# — measured as the stage-B scaling bottleneck), and the dictionary maps
# term -> term_hash for query-time lookup. A collision would silently
# merge two terms' postings; the birthday bound is p ~ n^2 / 2^65 — ~3e-3
# at 10^8 unique terms, ~0.3 at 10^9 — so build_index detects collisions
# at dictionary-build time (term_hash with >1 distinct term) and fails
# loudly instead of corrupting results.
BLOCKS_SCHEMA = (
    "term_hash long, shard int, block_id int, first_doc_id long, n_docs int, "
    "doc_gaps binary, tfs binary, dls binary, block_max_tf int, block_max_wtf double"
)
# posting_blocks as read back: the blocks are written partitionBy("shard")
# under group=<g> dirs, so group and shard follow the data columns as
# partition columns. Reading with it declared skips Spark's schema-inference
# job on every open.
BLOCKS_READ_SCHEMA = BLOCKS_SCHEMA.replace("shard int, ", "") + ", group int, shard int"


def doc_id_col() -> F.Column:
    return F.xxhash64("repo", "path", "commit")


def shard_col(doc_id, n_shards: int) -> F.Column:
    bits = int(math.log2(n_shards))
    assert 2**bits == n_shards, "n_shards must be a power of two"
    return F.shiftrightunsigned(doc_id, 64 - bits).cast("int")


def docs_df(source: DataFrame) -> DataFrame:
    """docs table + in-flight token array (single scan feeds both outputs)."""
    return spread(source).select(
        doc_id_col().alias("doc_id"),
        "repo",
        "path",
        "commit",
        "lang",
        F.sha2("content", 256).alias("content_sha256"),
        tokens_col("content").alias("tokens"),
    ).withColumn("doc_len", F.size("tokens"))


def postings_from_docs(with_tokens: DataFrame, n_shards: int) -> DataFrame:
    """Logical postings (term, doc_id, tf, doc_len, shard).

    doc_len is denormalized onto every posting so the query path never
    joins the (huge) docs table at scoring time; it packs at the block's
    max doc_len width, ~1-2 bytes per posting.
    """
    return (
        with_tokens.select("doc_id", "doc_len", F.explode("tokens").alias("term"))
        .groupBy("term", "doc_id", "doc_len")
        .agg(F.count(F.lit(1)).cast("int").alias("tf"))
        .withColumn("shard", shard_col(F.col("doc_id"), n_shards))
    )


def _shard_block_builder(avgdl: float, block_size: int) -> Callable:
    """Vectorized whole-shard block encoder.

    One pandas frame per *shard* (not per term): sort by (term, doc_id),
    find term-run and block boundaries with numpy, `maximum.reduceat` the
    block maxima, and encode gaps/tfs/dls for ALL blocks in three
    vectorized passes (`encode_payload_segmented`: FastLanes-style
    bit-packing at each block's max width, 64 bits for >57-bit blocks,
    per-block buffers sliced by byte offsets). Replaces a per-(term,shard)
    applyInPandas that built ~1 pandas frame per term — two orders of
    magnitude fewer Python/pandas round-trips. Group memory = one shard's
    postings; ``n_shards`` is the knob that bounds it at design scale.
    """

    def build(pdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(pdf["shard"].iloc[0])
        # pure int64 lexsort on (term_hash, doc_id): grouping needs term
        # *runs*, not alphabetical order, so the hash is a valid sort key
        hashes = pdf["term_hash"].to_numpy(np.int64)
        order = np.lexsort((pdf["doc_id"].to_numpy(np.int64), hashes))
        hashes = hashes[order]
        doc_ids = pdf["doc_id"].to_numpy(np.int64)[order]
        tfs = pdf["tf"].to_numpy(np.int64)[order]
        dls = pdf["doc_len"].to_numpy(np.int64)[order]
        n = len(doc_ids)
        new_term = np.empty(n, dtype=bool)
        new_term[0] = True
        new_term[1:] = hashes[1:] != hashes[:-1]
        run_id = np.cumsum(new_term) - 1
        run_start = np.flatnonzero(new_term)
        pos_in_run = np.arange(n) - run_start[run_id]
        new_block = new_term | (pos_in_run % block_size == 0)
        block_start = np.flatnonzero(new_block)
        block_end = np.concatenate((block_start[1:], [n]))
        counts = (block_end - block_start).astype(np.int64)
        wtf = (tfs * (K1 + 1)) / (tfs + K1 * (1 - B + B * dls / avgdl))
        b_max_tf = np.maximum.reduceat(tfs, block_start)
        b_max_wtf = np.maximum.reduceat(wtf, block_start)
        # delta gaps: doc_id minus predecessor, masked out at block starts
        gaps_all = np.empty(n, dtype=np.uint64)
        gaps_all[0] = 0
        gaps_all[1:] = doc_ids[1:].astype(np.uint64) - doc_ids[:-1].astype(np.uint64)
        gap_bufs = encode_payload_segmented(gaps_all[~new_block], counts - 1)
        tf_bufs = encode_payload_segmented(tfs, counts)
        dl_bufs = encode_payload_segmented(dls, counts)
        return pd.DataFrame(
            {
                "term_hash": hashes[block_start],
                "shard": shard,
                "block_id": (pos_in_run[block_start] // block_size).astype(np.int32),
                "first_doc_id": doc_ids[block_start],
                "n_docs": counts.astype(np.int32),
                "doc_gaps": gap_bufs,
                "tfs": tf_bufs,
                "dls": dl_bufs,
                "block_max_tf": b_max_tf.astype(np.int32),
                "block_max_wtf": b_max_wtf,
            }
        )

    return build


def blocks_from_postings(postings: DataFrame, avgdl: float, block_size: int = 128) -> DataFrame:
    slim = postings.select(
        F.xxhash64("term").alias("term_hash"), "shard", "doc_id", "tf", "doc_len"
    )
    return slim.groupBy("shard").applyInPandas(
        _shard_block_builder(avgdl, block_size), BLOCKS_SCHEMA
    )


def hash_collisions(dic: DataFrame) -> DataFrame:
    """term_hash values claimed by more than one distinct term (should be
    empty; see the BLOCKS_SCHEMA comment for the birthday-bound math)."""
    return (
        dic.groupBy("term_hash")
        .agg(F.count_distinct("term").alias("n_terms"))
        .where("n_terms > 1")
    )


def dictionary_from_postings(postings: DataFrame) -> DataFrame:
    """term -> df, cf, max_wtf-input stats. Partial agg absorbs Zipf skew."""
    return postings.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").alias("cf"),
    )


def with_bloom(writer: DataFrameWriter, column: str) -> DataFrameWriter:
    """``writer`` with a parquet bloom filter on ``column`` in every row
    group, sized to the distinct values that row group receives.

    parquet-mr's adaptive filter fills candidate filters of halving sizes,
    from the 1 MiB maximum down to 512 B (12 candidates), drops each one
    once the row group's distinct values exceed what it holds at the
    default 1% false-positive rate, and writes the smallest survivor: a
    row group of ~1k keys gets a 1-2 KiB filter, one of ~900k keys keeps
    the 1 MiB maximum. A plain filter is always the maximum, because no
    writer knows its NDV before it writes. parquet-mr reads the adaptive
    switch only in its global form and the candidate count only per
    column. It writes no filter for a column chunk that stayed entirely
    dictionary-encoded (few distinct keys, e.g. a small positions file):
    that chunk's dictionary prunes the row group exactly instead."""
    return (
        writer.option(f"parquet.bloom.filter.enabled#{column}", "true")
        .option("parquet.bloom.filter.adaptive.enabled", "true")
        .option(f"parquet.bloom.filter.candidates.number#{column}", "12")
    )


@dataclass
class BuildResult:
    out_dir: str
    n_docs: int
    avgdl: float
    n_shards: int


def _ledger_append(io: TableIO, spark: SparkSession, rows: list[tuple]) -> None:
    """Checkpoint commit. On the parquet catalog this is a driver-side
    pyarrow write (a few KB) — spinning up a Spark job for it costs ~1 s
    of pure serial time per unit; on Iceberg it goes through the catalog
    for ACID append semantics."""
    if io.catalog == "parquet":
        import time as _time
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        cols = list(zip(*rows))
        table = pa.table(
            {
                "stage": pa.array(cols[0], pa.string()),
                "unit_id": pa.array(cols[1], pa.int32()),
                "state": pa.array(cols[2], pa.string()),
                "docs_tokenized": pa.array(cols[3], pa.int64()),
                "postings_emitted": pa.array(cols[4], pa.int64()),
                "blocks_written": pa.array(cols[5], pa.int64()),
                "doc_len_sum": pa.array(cols[6], pa.int64()),
                "source_snapshot": pa.array(cols[7], pa.string()),
                "code_version": pa.array(cols[8], pa.string()),
                "updated_at": pa.array(
                    [int(_time.time() * 1_000_000)] * len(rows), pa.timestamp("us", tz="UTC")
                ),
            }
        )
        os.makedirs(io.path("build_ledger"), exist_ok=True)
        pq.write_table(table, io.path(f"build_ledger/commit-{uuid.uuid4().hex}.parquet"))
        return
    df = spark.createDataFrame(
        rows,
        "stage string, unit_id int, state string, docs_tokenized long, "
        "postings_emitted long, blocks_written long, doc_len_sum long, "
        "source_snapshot string, code_version string",
    ).withColumn("updated_at", F.current_timestamp())
    io.write(df, "build_ledger", mode="append")


def _ledger_rows(io: TableIO, spark: SparkSession):
    """Ledger rows as a list of dicts (pyarrow fast path on parquet)."""
    if not io.exists("build_ledger"):
        return []
    if io.catalog == "parquet":
        import pyarrow.parquet as pq

        return pq.read_table(io.path("build_ledger")).to_pylist()
    return [r.asDict() for r in io.read(spark, "build_ledger").collect()]


def _ledger_latest(io: TableIO, spark: SparkSession) -> list[dict]:
    """Latest ledger row per (stage, unit_id) by updated_at.

    The ledger is append-only; a crashed-then-retried unit can leave more
    than one row for the same unit, and rollups (n_docs/avgdl) must count
    each unit exactly once."""
    latest: dict[tuple[str, int], dict] = {}
    for r in _ledger_rows(io, spark):
        key = (r["stage"], r["unit_id"])
        cur = latest.get(key)
        if cur is None or r["updated_at"] >= cur["updated_at"]:
            latest[key] = r
    return list(latest.values())


def check_index_compatibility(io: TableIO, spark: SparkSession) -> None:
    """Fail loudly if the index on disk was written by an incompatible code
    version (e.g. the codec-tagged dps-0.2/0.3 block payloads, which this
    build would silently mis-decode). Reads only the (tiny) ledger."""
    versions = {
        str(r.get("code_version") or "<pre-versioned>")
        for r in _ledger_latest(io, spark)
        if r["state"] == "done"
    }
    bad = versions - {CODE_VERSION}
    if bad:
        raise RuntimeError(
            f"index at {io.root} was written by incompatible code version(s) "
            f"{sorted(bad)} (this build reads {CODE_VERSION}); "
            "rebuild required: run build_index(resume=False) over the source"
        )


def _ledger_done(io: TableIO, spark: SparkSession) -> set[tuple[str, int]]:
    return {
        (r["stage"], r["unit_id"])
        for r in _ledger_latest(io, spark)
        if r["state"] == "done"
    }


def _source_files(source_path: str) -> list[str]:
    """The source dir's parquet files; ValueError naming the path when there
    are none, before Spark fails on it with an opaque schema-inference
    error."""
    if not os.path.isdir(source_path):
        raise ValueError(f"build source {source_path!r} is not a directory")
    files = sorted(
        os.path.join(source_path, f)
        for f in os.listdir(source_path)
        if f.endswith(".parquet")
    )
    if not files:
        raise ValueError(f"build source {source_path!r} holds no .parquet files")
    return files


def _stage_a_unit(
    spark: SparkSession,
    io: TableIO,
    u: int,
    source: DataFrame,
    n_shards: int,
    source_tag: str,
) -> None:
    """One stage-A work unit from a source DataFrame: docs table + shard-
    partitioned posting runs + a ledger commit. Shared by the batch build
    (per file unit), add_to_index, and the streaming foreachBatch sink."""
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import Observation

    base = docs_df(source)
    posts = postings_from_docs(base, n_shards)
    # per-unit dirs make the commit idempotent under overwrite; counters
    # ride the write jobs as Observation metrics — no extra count jobs.
    # The two writes are independent jobs over the same source; running
    # them concurrently lets the scheduler fill each other's stage
    # gaps (tail tasks, commit barriers) — same total work, less wall
    obs_docs, obs_posts = Observation(), Observation()
    docs_out = base.drop("tokens").observe(
        obs_docs, F.count(F.lit(1)).alias("n"), F.sum("doc_len").alias("dl_sum")
    )

    def _write_docs():
        docs_out.write.mode("overwrite").parquet(io.path(f"docs/unit={u}"))

    def _write_posts():
        posts.observe(obs_posts, F.count(F.lit(1)).alias("n")).repartition(
            "shard"
        ).sortWithinPartitions("term", "doc_id").write.mode("overwrite").partitionBy(
            "shard"
        ).parquet(io.path(f"postings/unit={u}"))

    with ThreadPoolExecutor(2) as pool:
        f1, f2 = pool.submit(_write_docs), pool.submit(_write_posts)
        f1.result()
        f2.result()
    n_docs = int(obs_docs.get["n"])
    n_posts = int(obs_posts.get["n"])
    _ledger_append(
        io, spark,
        [("A", u, "done", n_docs, n_posts, 0, int(obs_docs.get["dl_sum"]), source_tag, CODE_VERSION)],
    )


def _run_stage_a(
    spark: SparkSession,
    io: TableIO,
    unit_files: list[tuple[int, list[str]]],
    n_shards: int,
    source_path: str,
    done: set[tuple[str, int]],
    fault_injector,
) -> None:
    """Stage A: tokenize + shard-partitioned posting runs, one ledger
    commit per (unit_id, files) work unit."""
    for u, fl in unit_files:
        if ("A", u) in done:
            continue
        if fault_injector:
            fault_injector("A", u)
        # two scans tokenize independently rather than caching the token
        # arrays: materializing ~1 KB of array<string> per doc into the
        # columnar cache measured *slower* than re-running the (cheap,
        # codegen'd) analyzer, and the cache's memory pressure degraded
        # every concurrent stage — at 100 TB the cache wouldn't fit anyway
        _stage_a_unit(spark, io, u, spark.read.parquet(*fl), n_shards, source_path)


def _ledger_stats(
    io: TableIO, spark: SparkSession, minus: tuple[int, int] = (0, 0)
) -> tuple[int, float]:
    """(n_docs, avgdl) rolled up from the per-unit ledger counters — a pure
    computation (no table write), so maintenance flows can size their work
    before deciding when the new stats become visible to queries.
    ``minus`` = (doc_count, doc_len_sum) to subtract (tombstoned docs)."""
    arows = [r for r in _ledger_latest(io, spark) if r["stage"] == "A" and r["state"] == "done"]
    n_docs = sum(int(r["docs_tokenized"]) for r in arows) - minus[0]
    dl_sum = sum(int(r["doc_len_sum"]) for r in arows) - minus[1]
    return n_docs, dl_sum / max(n_docs, 1)


def _tombstone_totals(spark: SparkSession, io: TableIO) -> tuple[int, int]:
    """(count, doc_len_sum) of tombstoned docs still present in the docs
    table — the stats adjustment a purge-aware merge applies. Zero-cost
    when no delete has ever happened (no table, no job). The semi-join
    carries no broadcast hint: the tombstones table is unbounded, so AQE
    picks broadcast or shuffle from its measured size."""
    if not io.exists("tombstones"):
        return 0, 0
    t = io.read(spark, "tombstones").select("doc_id").distinct()
    row = (
        io.read(spark, "docs")
        .join(t, "doc_id", "left_semi")
        .agg(F.count(F.lit(1)).alias("d"), F.sum("doc_len").alias("dl"))
        .collect()[0]
    )
    return int(row["d"] or 0), int(row["dl"] or 0)


def delete_docs(spark: SparkSession, index_dir: str, doc_ids) -> int:
    """Soft-delete documents from a built index (the reference's
    opensearch sink 'delete' bulk action, OpenSearchSink.java bulk
    surface; Lucene semantics end-to-end):

    - doc_ids land in the ``tombstones`` table; every query path
      constructed afterwards anti-joins it (live-docs filtering), so the
      docs vanish from results immediately — while BM25 statistics
      (df, avgdl, N) keep counting them, exactly like Lucene between a
      deleteDocument and the merge that purges it.
    - the next ``refresh_index`` purges physically: tombstoned postings
      are dropped from the re-merged blocks + dictionary and the corpus
      stats are recomputed minus the deleted docs — after which the
      index is byte-equivalent to one built without those docs.

    Append-only + dedup-on-read = idempotent; an engine instance pins
    the tombstone set at construction (same snapshot discipline as the
    generation pointer). Returns the number of ids submitted."""
    io = TableIO(index_dir)
    ids = [(int(d),) for d in doc_ids]
    if ids:
        io.write(spark.createDataFrame(ids, "doc_id long").coalesce(1), "tombstones", mode="append")
    return len(ids)


def resolved_table_path(index_dir: str, name: str) -> str:
    """Current-generation directory of an index table (posting_blocks and
    dictionary move to ``<name>.gen-N`` dirs under atomic refresh; other
    tables resolve to themselves). For external inspection/tests."""
    return TableIO(index_dir).rpath(name)


def _gc_generations(io: TableIO, retain: int | None = None) -> None:
    """Garbage-collect old generation directories of the versioned tables,
    honoring a reader grace period: the ``retain`` most recent COMMITTED
    generations below the current one are kept (default 1, override with
    env ``DPS_GC_RETAIN``), so an IndexQueryEngine (or any DataFrame plan)
    constructed before a refresh keeps resolving its pinned paths until
    re-opened — the Lucene open-searcher / Iceberg snapshot-retention
    contract. Generations NEWER than the pointer are uncommitted debris
    from crashed refreshes and are always deleted."""
    if io.catalog != "parquet" or not os.path.isdir(io.root):
        return
    if retain is None:
        retain = int(os.environ.get("DPS_GC_RETAIN", "1"))
    import shutil

    from ..tableio import GEN_TABLES

    gens = io.gen_state()
    for base in GEN_TABLES:
        cur = gens.get(base, 0)
        for d in os.listdir(io.root):
            if d == base:
                g = 0
            elif d.startswith(base + ".gen-"):
                try:
                    g = int(d[len(base) + 5:])
                except ValueError:
                    continue
            else:
                continue
            if g > cur or g < cur - retain:
                shutil.rmtree(os.path.join(io.root, d), ignore_errors=True)


def _write_corpus_stats(
    spark: SparkSession, io: TableIO, layered: int = 0
) -> tuple[int, float]:
    """Corpus stats roll up from the per-unit ledger counters (captured as
    Observation metrics on the write jobs) — no extra scan of the docs
    table; resume-safe because the ledger is durable per unit. ``layered``
    counts un-merged block segments (remerge=False adds); query kernels
    switch to avgdl-independent tf-only pruning bounds while it is
    non-zero. Tombstoned docs are subtracted so every stats write agrees
    with the live-docs view (no-op when no delete ever happened)."""
    n_docs, avgdl = _ledger_stats(io, spark, minus=_tombstone_totals(spark, io))
    if io.catalog == "parquet":
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(io.path("corpus_stats"), exist_ok=True)
        pq.write_table(
            pa.table({"n_docs": pa.array([n_docs], pa.int64()),
                      "avgdl": pa.array([avgdl], pa.float64()),
                      "layered": pa.array([layered], pa.int32())}),
            io.path("corpus_stats/part-0.parquet"),
        )
    else:
        io.write(
            spark.createDataFrame(
                [(n_docs, avgdl, layered)], "n_docs long, avgdl double, layered int"
            ),
            "corpus_stats",
        )
    return n_docs, avgdl


def _run_stage_b(
    spark: SparkSession,
    io: TableIO,
    postings: DataFrame,
    avgdl: float,
    block_size: int,
    shard_groups: int,
    source_path: str,
    done: set[tuple[str, int]],
    fault_injector,
    target_table: str | None = None,
    commit_ledger: bool = True,
) -> list[tuple[int, int]]:
    """Stage B: posting runs -> compressed block-max blocks. With
    ``commit_ledger`` one ledger commit per shard group (resumable fresh
    build); without, counts are returned for the caller to commit once the
    whole output becomes visible (atomic refresh writes into a not-yet-
    current generation dir, so per-group 'done' rows would lie)."""
    from pyspark.sql import Observation

    target = target_table or io.resolved("posting_blocks")
    counts: list[tuple[int, int]] = []
    for g in range(shard_groups):
        if ("B", g) in done:
            continue
        if fault_injector:
            fault_injector("B", g)
        grp = postings.where(F.col("shard") % shard_groups == g)  # partition-pruned
        blocks = blocks_from_postings(grp, avgdl, block_size)
        obs_blocks = Observation()
        # sized bloom filter on term_hash (with_bloom): a cold query's
        # `term_hash IN (...)` scan skips row groups holding none of the
        # query's terms, for 1-2 bytes per distinct key
        with_bloom(
            blocks.observe(obs_blocks, F.count(F.lit(1)).alias("n")).write.mode("overwrite"),
            "term_hash",
        ).partitionBy("shard").parquet(io.path(f"{target}/group={g}"))
        n_blocks = int(obs_blocks.get["n"])
        counts.append((g, n_blocks))
        if commit_ledger:
            _ledger_append(io, spark, [("B", g, "done", 0, 0, n_blocks, 0, source_path, CODE_VERSION)])
    return counts


def _commit_dict_df(
    spark: SparkSession, io: TableIO, dic: DataFrame, dict_table: str, partitions: int
) -> None:
    """Shared dictionary writer + collision gate.

    hash-partition + sortWithinPartitions: every file's term min/max spans
    the whole alphabet, so min/max prunes only row groups inside a file
    that holds more than one. The file-level pruning is the parquet bloom
    filter on term (``with_bloom``, sized to each row group's distinct
    terms): a point lookup skips every file whose filter rules its terms
    out, present and absent terms alike — the dictionary-sidecar idea
    expressed as a writer option. repartitionByRange would give files
    disjoint ranges but costs a range-sampling pass that RE-EXECUTES the
    whole dictionary aggregation — not worth it. ``partitions`` scales
    O(shards) (default n_shards/4, floor 8) so the dictionary's file
    count grows with the index instead of pinning at 8."""
    with_bloom(
        dic.repartition(partitions, "term").sortWithinPartitions("term").write.mode("overwrite"),
        "term",
    ).parquet(io.path(dict_table))
    # collision gate on the WRITTEN table (a 2-column scan — re-checking the
    # unmaterialized dic would re-run the whole aggregation): a term_hash
    # shared by two terms would silently merge their postings at query time
    collided = (
        hash_collisions(spark.read.parquet(io.path(dict_table))).limit(1).collect()
    )
    if collided:
        raise RuntimeError(
            f"xxhash64 term collision detected (term_hash={collided[0]['term_hash']}); "
            "index is unusable — rebuild with a wider term key"
        )


def _dict_partitions(n_shards: int) -> int:
    return max(8, n_shards // 4)


def _write_dictionary(
    spark: SparkSession,
    io: TableIO,
    postings: DataFrame,
    blocks_table: str | None = None,
    dict_table: str | None = None,
    partitions: int = 8,
) -> None:
    """Dictionary: df/cf + per-term upper bound for WAND pruning; carries
    term_hash so query-time block lookup never needs strings. Explicit
    ``blocks_table``/``dict_table`` let the atomic refresh aggregate from /
    write to a not-yet-current generation dir."""
    blocks_all = spark.read.parquet(io.path(blocks_table or io.resolved("posting_blocks")))
    ub = blocks_all.groupBy("term_hash").agg(F.max("block_max_wtf").alias("max_wtf"))
    dic = (
        dictionary_from_postings(postings)
        .withColumn("term_hash", F.xxhash64("term"))
        .join(ub, "term_hash", "left")
    )
    _commit_dict_df(spark, io, dic, dict_table or io.resolved("dictionary"), partitions)


def _write_segment_dictionary(
    spark: SparkSession,
    io: TableIO,
    new_posts: DataFrame,
    seg: int,
) -> None:
    """Per-segment SIDE dictionary for a layered add: aggregate ONLY the
    new units' postings (O(new docs) — no join against, and no rewrite
    of, the base dictionary) and store the result INSIDE the current
    posting_blocks generation at ``_segdict/group=<seg>``. The underscore
    prefix makes block scans ignore it, and living inside the generation
    dir means it swaps and garbage-collects atomically with the blocks it
    describes: refresh_index writes a fresh full dictionary into the next
    generation and the segdicts vanish with the old one — no separate
    cleanup step, no crash window where stale side stats survive a
    compaction. Query paths union base + segments per term
    (query/common.dict_df). This is the Lucene per-segment term
    dictionary, with the merge deferred to the background compaction.

    max_wtf is advisory while the index is layered (bounds computed under
    the segment's avgdl); layered kernels prune with avgdl-independent
    tf-only bounds and never read it. Idempotent: a crash-retried add
    reuses the segment id and overwrites the same directory.
    """
    seg_blocks = spark.read.parquet(io.rpath(f"posting_blocks/group={seg}"))
    seg_ub = seg_blocks.groupBy("term_hash").agg(F.max("block_max_wtf").alias("max_wtf"))
    dic = (
        dictionary_from_postings(new_posts)
        .withColumn("term_hash", F.xxhash64("term"))
        .join(seg_ub, "term_hash", "left")
    )
    with_bloom(
        dic.repartition(1).sortWithinPartitions("term").write.mode("overwrite"), "term"
    ).parquet(io.rpath(f"posting_blocks/_segdict/group={seg}"))


def build_index(
    spark: SparkSession,
    source_path: str,
    out_dir: str,
    n_shards: int = 64,
    block_size: int = 128,
    units: int = 4,
    shard_groups: int = 4,
    resume: bool = True,
    fault_injector: Callable[[str, int], None] | None = None,
) -> BuildResult:
    """Resumable two-stage index build from a parquet ``code_files`` path.

    ``fault_injector(stage, unit)`` is a test hook called before each unit
    commits — raising from it simulates a mid-build crash.
    """
    files = _source_files(source_path)
    io = TableIO(out_dir)
    if not resume:
        # fresh build into a possibly-dirty out_dir: the ledger is append-
        # only, so stale 'done' rows would double-count n_docs/avgdl in the
        # corpus-stats rollup, and stale unit dirs from a previous build
        # with a different `units`/`shard_groups` layout would be picked up
        # by the recursive postings/blocks reads
        for tbl in ("build_ledger", "docs", "postings", "corpus_stats"):
            io.drop(spark, tbl)
        if io.catalog == "parquet" and os.path.isdir(io.root):
            # generation-versioned tables: drop every generation + pointer
            import shutil

            from ..tableio import _GEN_FILE

            for d in list(os.listdir(io.root)):
                if d.startswith("posting_blocks") or d.startswith("dictionary"):
                    shutil.rmtree(os.path.join(io.root, d), ignore_errors=True)
            if os.path.exists(io.path(_GEN_FILE)):
                os.remove(io.path(_GEN_FILE))
        else:
            io.drop(spark, "posting_blocks")
            io.drop(spark, "dictionary")
    done = _ledger_done(io, spark) if resume else set()

    units = max(1, min(units, len(files)))
    unit_files = [(i, files[i::units]) for i in range(units)]
    _run_stage_a(spark, io, unit_files, n_shards, source_path, done, fault_injector)

    n_docs, avgdl = _write_corpus_stats(spark, io)
    postings = spark.read.parquet(io.path("postings"))

    shard_groups = max(1, min(shard_groups, n_shards))
    _run_stage_b(
        spark, io, postings, avgdl, block_size, shard_groups, source_path,
        done, fault_injector,
    )
    _write_dictionary(spark, io, postings, partitions=_dict_partitions(n_shards))
    return BuildResult(out_dir, n_docs, avgdl, n_shards)


def add_to_index(
    spark: SparkSession,
    source_path: str,
    out_dir: str,
    n_shards: int = 64,
    block_size: int = 128,
    units: int = 1,
    remerge: bool = True,
    fault_injector: Callable[[str, int], None] | None = None,
) -> BuildResult:
    """Incremental maintenance: ingest NEW source files into an existing
    index without re-tokenizing what is already there.

    - Stage A runs only for the new files, appended as fresh unit ids —
      tokenization (the dominant build cost) is never repeated for
      existing units.
    - Corpus stats are re-rolled from the ledger; because ``avgdl`` feeds
      the precomputed block-max wtf pruning bounds, every stage-B group is
      marked 'invalidated' in the ledger (latest-row-wins) and re-merged
      from the union of old + new posting runs, then the dictionary is
      rebuilt. Re-merge reads the columnar posting runs — no re-parse.
    - Idempotent per source batch: a batch is identified by its
      ``source_path`` (the ledger's source_snapshot lineage column);
      re-adding an already-ingested path resumes instead of duplicating,
      so a crash mid-add is recovered by calling add_to_index again.
    - ``remerge=False`` is the Lucene-NRT-style layered add: the new
      units' blocks are written as a NEW segment group (no re-merge of
      existing groups — O(new docs), not O(corpus)), the dictionary is
      rebuilt (pure aggregation), and corpus_stats.layered is bumped so
      query kernels stop trusting the now-avgdl-stale block-max bounds
      and score exhaustively. ``refresh_index`` later compacts all
      segments back into canonical groups and re-enables pruning — the
      standard searchable-immediately / merge-in-background economics.

    ``n_shards`` and ``block_size`` must match the original build; the
    stage-B grouping is reused from the ledger.
    """
    files = _source_files(source_path)
    io = TableIO(out_dir)
    latest = _ledger_latest(io, spark)
    a_rows = [r for r in latest if r["stage"] == "A" and r["state"] == "done"]
    if not a_rows:
        raise ValueError("add_to_index requires an existing build; use build_index first")
    # canonical stage-B groups: latest state must be 'done' — after a
    # refresh, compacted layered segments' final row is state='compacted'
    # with the 'layered:' prefix replaced by the refresh source_tag, so
    # filtering on the prefix alone would count them as canonical groups
    # and inflate shard_groups on every layered-add/refresh/add cycle
    b_groups = sorted(
        r["unit_id"] for r in latest
        if r["stage"] == "B"
        and r["state"] == "done"
        and not str(r["source_snapshot"] or "").startswith("layered:")
    )
    shard_groups = max(1, len(b_groups))

    already = [r for r in a_rows if r["source_snapshot"] == source_path]
    done = _ledger_done(io, spark)
    if already:
        # this batch was (at least partly) ingested before: reuse its unit
        # ids so the retry completes the batch instead of duplicating it
        first_u = min(r["unit_id"] for r in already)
    else:
        first_u = max(r["unit_id"] for r in a_rows) + 1

    units = max(1, min(units, len(files)))
    unit_files = [(first_u + i, files[i::units]) for i in range(units)]
    _run_stage_a(spark, io, unit_files, n_shards, source_path, done, fault_injector)

    if remerge:
        return refresh_index(
            spark, out_dir, block_size=block_size, n_shards=n_shards,
            shard_groups=shard_groups, source_tag=source_path,
            fault_injector=fault_injector,
        )

    # ---- layered add (Lucene-NRT style): encode ONLY the new units' runs
    # as a fresh segment, and merge (not rebuild) the dictionary — the
    # whole add touches O(new docs) rows plus one dictionary-sized join.
    return _layered_segment(
        spark, io, out_dir, [u for u, _ in unit_files], source_path,
        n_shards, block_size,
    )


def _layered_segment(
    spark: SparkSession,
    io: TableIO,
    out_dir: str,
    unit_ids: list[int],
    source_path: str,
    n_shards: int,
    block_size: int,
) -> BuildResult:
    """Encode committed stage-A units as one searchable layered segment +
    merged dictionary. Shared by add_to_index(remerge=False) and the
    layered streaming sink (streaming/index_stream.py): the unit ids must
    already have 'done' stage-A ledger rows. Idempotent per source_path
    (see add_to_index docstring for the crash-window analysis)."""
    latest = _ledger_latest(io, spark)
    lay_tag = f"layered:{source_path}"
    prior = [
        r for r in latest
        if r["stage"] == "B" and str(r["source_snapshot"] or "") == lay_tag
    ]
    done_prior = [r for r in prior if r["state"] == "done"]
    if any(r["state"] == "compacted" for r in prior) and not done_prior:
        # this batch's layered segment was already compacted into the
        # canonical groups by a refresh — replaying the add must be a
        # no-op, not a duplicate segment
        n_docs, avgdl = _ledger_stats(io, spark)
        return BuildResult(out_dir, n_docs, avgdl, n_shards)
    layered_done = {
        r["unit_id"] for r in latest
        if r["stage"] == "B" and r["state"] == "done"
        and str(r["source_snapshot"] or "").startswith("layered:")
    }
    if done_prior:
        seg = int(done_prior[0]["unit_id"])  # crash-retry: reuse, overwrite
    else:
        seg = max((r["unit_id"] for r in latest if r["stage"] == "B"), default=-1) + 1
    # corpus stats FIRST: layered>0 flips query kernels to the
    # avgdl-independent tf-only pruning bounds BEFORE any mixed-avgdl
    # segment becomes visible; n_docs/avgdl roll up from the ledger (stage
    # A is committed), so this write is idempotent across crash-retries
    n_docs, avgdl = _write_corpus_stats(spark, io, layered=len(layered_done | {seg}))
    new_posts = spark.read.parquet(
        *[io.path(f"postings/unit={u}") for u in unit_ids]
    )
    blocks = blocks_from_postings(new_posts, avgdl, block_size)
    from pyspark.sql import Observation

    obs = Observation()
    with_bloom(
        blocks.observe(obs, F.count(F.lit(1)).alias("n")).write.mode("overwrite"), "term_hash"
    ).partitionBy("shard").parquet(io.rpath(f"posting_blocks/group={seg}"))
    # side dictionary BEFORE the ledger commit row: once the 'done' row
    # lands the segment is fully searchable, stats included
    _write_segment_dictionary(spark, io, new_posts, seg)
    _ledger_append(
        io, spark,
        [("B", seg, "done", 0, 0, int(obs.get["n"]), 0, lay_tag, CODE_VERSION)],
    )
    return BuildResult(out_dir, n_docs, avgdl, n_shards)


def refresh_index(
    spark: SparkSession,
    out_dir: str,
    block_size: int = 128,
    n_shards: int | None = None,
    shard_groups: int | None = None,
    source_tag: str = "refresh",
    fault_injector: Callable[[str, int], None] | None = None,
) -> BuildResult:
    """Merge step of incremental maintenance: re-roll corpus stats from the
    ledger, invalidate + re-merge every stage-B group over the union of ALL
    committed posting runs, and rebuild the dictionary.

    add_to_index calls this automatically; the streaming unit sink
    (streaming/index_stream.py) defers it so many micro-batches amortize
    one re-merge — Lucene's segment-merge economics, expressed as a ledger
    transition ('invalidated' -> 'done' rows carry the lineage).
    """
    io = TableIO(out_dir)
    latest = _ledger_latest(io, spark)
    if not any(r["stage"] == "A" and r["state"] == "done" for r in latest):
        raise ValueError("refresh_index requires committed stage-A units")
    b_rows = [r for r in latest if r["stage"] == "B" and r["state"] == "done"]
    layered_rows = [
        r for r in b_rows
        if str(r["source_snapshot"] or "").startswith("layered:")
    ]
    if shard_groups is None:
        canonical = {r["unit_id"] for r in b_rows} - {r["unit_id"] for r in layered_rows}
        shard_groups = max(1, len(canonical))

    # purge-on-merge: tombstoned docs drop out of the re-merged blocks,
    # dictionary, AND the stats (Lucene's delete-then-merge); stats are
    # computed only here — written post-swap. The purge is the serving
    # paths' live_filter, which never broadcasts the unbounded tombstones
    minus = _tombstone_totals(spark, io)
    n_docs, avgdl = _ledger_stats(io, spark, minus=minus)
    postings = spark.read.parquet(io.path("postings"))
    if minus[0]:
        postings = live_filter(spark, io, postings)
    if n_shards is None:
        n_shards = int(postings.agg(F.max("shard")).collect()[0][0]) + 1

    # ---- atomic generation swap: every output below lands in a NOT-yet-
    # current `<table>.gen-N` dir; the single pointer-file rename in
    # set_gen_state is the commit point (Iceberg snapshot semantics,
    # approximated for the parquet catalog — on DPS_CATALOG=iceberg the
    # createOrReplace commit plays this role natively). A crash at ANY
    # step leaves the previous generation fully queryable: corpus_stats
    # still carries the old layered count, so kernels keep the bounds that
    # match the still-visible blocks, and a re-run simply rebuilds the
    # same target dirs from scratch.
    gens = io.gen_state()
    pb_gen = gens.get("posting_blocks", 0) + 1
    d_gen = gens.get("dictionary", 0) + 1
    pb_target = f"posting_blocks.gen-{pb_gen}"
    if io.catalog == "parquet":
        import shutil

        # a crashed earlier refresh may have left a partial target tree
        # (possibly with a different group layout) — start clean
        shutil.rmtree(io.path(pb_target), ignore_errors=True)
    counts = _run_stage_b(
        spark, io, postings, avgdl, block_size, shard_groups, source_tag,
        set(), fault_injector,
        target_table=pb_target, commit_ledger=False,
    )
    _write_dictionary(
        spark, io, postings,
        blocks_table=pb_target, dict_table=f"dictionary.gen-{d_gen}",
        partitions=_dict_partitions(n_shards),
    )
    # ledger lineage BEFORE the pointer bump, one append, 'done' rows last
    # (latest-wins ties break on file order): 'invalidated' records WHY
    # each canonical group re-ran; 'compacted' rows KEEP their original
    # layered:<path> source_snapshot so a replayed add of the same batch
    # recognizes itself as already ingested. Pre-swap is the safe side of
    # the crash window: if we die here, the OLD generation stays current
    # and still physically contains every layered segment, so a replayed
    # add_to_index seeing 'compacted' correctly no-ops (the docs are
    # visible), and a re-run refresh sees the new 'done' group rows and
    # keeps the group layout. The reverse order (swap first) had a window
    # where a replay took the crash-retry reuse path and rewrote a
    # segment's blocks into a generation whose canonical groups already
    # contain those docs — duplicated postings, inflated scores.
    _ledger_append(
        io, spark,
        [("B", g, "invalidated", 0, 0, 0, 0, source_tag, CODE_VERSION) for g in range(shard_groups)]
        + [
            ("B", int(r["unit_id"]), "compacted", 0, 0, 0, 0,
             str(r["source_snapshot"]), CODE_VERSION)
            for r in layered_rows
        ]
        + [("B", g, "done", 0, 0, n, 0, source_tag, CODE_VERSION) for g, n in counts],
    )
    io.set_gen_state(posting_blocks=pb_gen, dictionary=d_gen)  # COMMIT POINT
    _write_corpus_stats(spark, io, layered=0)
    _gc_generations(io)
    return BuildResult(out_dir, n_docs, avgdl, n_shards)
