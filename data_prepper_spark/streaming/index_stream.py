"""Streaming index ingestion: readStream -> per-micro-batch stage-A units.

The reference streams events into OpenSearch `_bulk` continuously
(opensearch/.../OpenSearchSink.java:316); the Spark-native analog is a
Structured Streaming ``foreachBatch`` sink where every micro-batch of code
files becomes ONE stage-A work unit of the same build ledger the batch
path uses (index/build.py):

- unit id = ``unit_base + batch_id``: Structured Streaming replays a
  failed batch with the SAME batch_id, the per-unit dir write is an
  idempotent overwrite, and the ledger's latest-row-wins dedupe
  (_ledger_latest) absorbs the duplicate commit row — together that gives
  exactly-once unit commits on top of at-least-once batch delivery.
- the expensive work (tokenize -> shard-partitioned posting runs) happens
  per batch; the merge into compressed block-max blocks is DEFERRED:
  call ``refresh_index`` on a cadence (or after the stream drains) so many
  micro-batches amortize one re-merge — Lucene segment-merge economics.
  Between refreshes, queries serve the last merged snapshot.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..index.build import _layered_segment, _stage_a_unit
from ..tableio import TableIO

# keeps streaming unit ids disjoint from batch-build unit ids
STREAM_UNIT_BASE = 1_000_000


def index_stream_writer(
    stream_df: DataFrame,
    out_dir: str,
    n_shards: int = 64,
    checkpoint_dir: str | None = None,
    unit_base: int = STREAM_UNIT_BASE,
    layered: bool = False,
    block_size: int = 128,
):
    """Returns a DataStreamWriter; caller picks the trigger and .start()s.

    ``stream_df`` must have the code_files shape (repo, path, commit,
    lang, content). Example:

        w = index_stream_writer(stream, out, checkpoint_dir=ckpt)
        w.trigger(availableNow=True).start().awaitTermination()
        refresh_index(spark, out)

    ``layered=True`` is the true NRT mode: each micro-batch additionally
    writes its own layered block segment plus a per-segment SIDE
    dictionary (index/build.py _layered_segment — O(batch docs) work, the
    base dictionary is never rewritten), so new docs are SEARCHABLE as
    soon as their batch commits, with no refresh in the loop. Query kernels run with avgdl-independent tf-only pruning bounds
    while layered segments exist; ``refresh_index`` later compacts many
    micro-batch segments into the canonical groups and restores the
    tightest bounds — exactly Lucene's NRT-segments-then-background-merge
    economics. Replayed batches (at-least-once delivery) are absorbed by
    the same ledger idempotency the batch layered add uses: the segment
    keyed by the batch's source tag is reused and its blocks AND side
    dictionary overwritten byte-identically before the single ledger
    commit row lands.
    """
    io = TableIO(out_dir)

    def handle(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        unit = unit_base + int(batch_id)
        tag = f"stream:batch={batch_id}"
        _stage_a_unit(spark, io, unit, batch_df, n_shards, tag)
        if layered:
            _layered_segment(spark, io, out_dir, [unit], tag, n_shards, block_size)

    w = stream_df.writeStream.foreachBatch(handle)
    if checkpoint_dir:
        w = w.option("checkpointLocation", checkpoint_dir)
    return w
