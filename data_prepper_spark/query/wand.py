"""Block-max WAND top-k over the compressed posting_blocks table.

Shards are disjoint doc_id ranges (index/build.py), so each shard runs an
independent top-k over the query terms' blocks and the global answer is
the merge of the per-shard hits: no cross-shard state. IndexQueryEngine
(query/engine.py) runs every query through ``batch_topk_by_shard``, in
the driver or in its one ``mapInPandas`` closure.

The scan is pruned by ``term IN (...)`` pushed to parquet (blocks are
written sorted by term within each shard partition), so a query touches
only its terms' row groups in each shard.

Shard-local kernel lineup (dispatched by _wand_shard):
- exhaustive: decode-everything vectorized BM25 — fastest below
  EXHAUSTIVE_THRESHOLD postings where pruning can't beat flat numpy;
- blockmax (above the threshold): vectorized block-granular pruning over
  a doc-id interval partition (_blockmax_shard) — all-numpy, degrades to
  ~exhaustive cost when score distributions leave nothing to prune, and
  skips whole doc-id regions when they do.
The per-document Ding & Suel pointer WAND is the semantic reference both
are cross-checked against; it lives with the tests (tests/wand_pointer.py).

Correctness guardrails (rank-identity vs the DataFrame path + oracle):
- per-term upper bounds and block maxima are inflated by 1 + 1e-9 before
  pruning so float rounding can never prune a true top-k member;
- pruning uses ``> theta - eps`` (candidates tying theta get evaluated)
  and final ordering ties break on doc_id ascending.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from .common import K1, B
from ..index.bitpack import decode_doc_ids_payload, decode_payload

_INF = np.iinfo(np.int64).max
_EPS = 1e-12
_UB_INFLATE = 1.0 + 1e-9


def _exhaustive_shard(
    groups: pd.DataFrame, hstats: dict[int, dict], avgdl: float, k: int
) -> list[tuple[int, float]]:
    """Vectorized exhaustive BM25 over this shard's query-term blocks: the
    one-query case of ``batch_exhaustive_shard``."""
    return [(d, s) for _q, d, s in batch_exhaustive_shard(groups, {"": hstats}, avgdl, k)]


# below this many postings (block metadata, no decode needed) per shard the
# vectorized exhaustive path wins; above it, theta/block-max pruning pays.
EXHAUSTIVE_THRESHOLD = 200_000

# at or below this many query postings (Σdf over the query's terms, or
# over the union of a batch's terms, known from the dictionary before any
# job runs) IndexQueryEngine pulls the term-filtered blocks through one
# Arrow collect and runs the shard kernels in the driver; above it the
# kernels run distributed in Python workers. Set at the lowest measured
# crossover where both paths take equal time on 4 vCPUs (NOTES.md,
# "Driver-side serving path").
DRIVER_MAX_POSTINGS = 120_000


def shard_frames(pdfs: Iterator[pd.DataFrame] | list[pd.DataFrame]) -> list[pd.DataFrame]:
    """One frame per shard from a stream of block frames: a shard's blocks
    may arrive split across Arrow batches."""
    buf: dict[int, list[pd.DataFrame]] = {}
    for pdf in pdfs:
        for s, grp in pdf.groupby("shard"):
            buf.setdefault(int(s), []).append(grp)
    return [pd.concat(parts) for parts in buf.values()]


def batch_topk_by_shard(
    pdfs: Iterator[pd.DataFrame] | list[pd.DataFrame],
    per_q: dict[str, dict[int, dict]],
    avgdl: float,
    k: int,
    exhaustive_threshold: int,
    bounds: str,
) -> list[tuple[str, int, float]]:
    """Shard-local top-k of every query in a batch, for every shard in a
    stream of block frames: (query_id, doc_id, score) hits, k per (shard,
    query), in no global order. The one kernel loop behind the engine's
    ``mapInPandas`` closure and its driver-side path; a single query runs
    as a batch of one. A shard within the exhaustive threshold decodes
    each term's blocks once for all queries (``batch_exhaustive_shard``)."""
    hits: list[tuple[str, int, float]] = []
    for shard_df in shard_frames(pdfs):
        if int(shard_df["n_docs"].sum()) <= exhaustive_threshold:
            hits.extend(batch_exhaustive_shard(shard_df, per_q, avgdl, k))
            continue
        for qid, hstats in per_q.items():
            sub = shard_df[shard_df["term_hash"].isin(list(hstats))]
            if len(sub):
                hits.extend(
                    (qid, d, s)
                    for d, s in _wand_shard(sub, hstats, avgdl, k, exhaustive_threshold, bounds)
                )
    return hits


def batch_hits_frame(hits: list[tuple[str, int, float]]) -> pd.DataFrame:
    """(query_id string, doc_id long, score double) frame of batch kernel
    hits for mapInPandas."""
    return pd.DataFrame(
        {
            "query_id": pd.Series([q for q, _, _ in hits], dtype="object"),
            "doc_id": pd.Series([d for _, d, _ in hits], dtype="int64"),
            "score": pd.Series([s for _, _, s in hits], dtype="float64"),
        }
    )


def _topk_from_arrays(
    docs: np.ndarray, scores: np.ndarray, k: int
) -> list[tuple[int, float]]:
    """Segment-sum per doc + exact top-k (score desc, doc asc): the tail of
    the exhaustive kernel. No per-posting Python — in the low-df regime
    where theta cannot prune much the work is O(postings) either way, and
    here it runs at numpy speed."""
    order = np.argsort(docs, kind="stable")
    d, s = docs[order], scores[order]
    starts = np.flatnonzero(np.concatenate(([True], d[1:] != d[:-1])))
    sums = np.add.reduceat(s, starts)
    uniq = d[starts]
    if len(sums) > k:
        # top-k by score via argpartition, then re-include every doc tying
        # the boundary score so the doc-asc tiebreak is exact
        boundary = sums[np.argpartition(-sums, k - 1)[:k]].min()
        cand = np.flatnonzero(sums >= boundary)
        sel = cand[np.lexsort((uniq[cand], -sums[cand]))]
    else:
        sel = np.lexsort((uniq, -sums))
    return [(int(uniq[i]), float(sums[i])) for i in sel[:k]]


def batch_exhaustive_shard(
    shard_df: pd.DataFrame,
    per_q: dict[str, dict[int, dict]],
    avgdl: float,
    k: int,
) -> list[tuple[str, int, float]]:
    """Many queries over one shard with EACH TERM'S BLOCKS DECODED ONCE.

    The per-query kernels re-decode a term's blocks for every query that
    contains it; a search tier's request batch has heavy term overlap
    (stopword-ish code tokens appear in most queries), so the batch path
    instead decodes per term: (docs, idf-free wtf) arrays built once, then
    each query concatenates views of its terms' arrays, scales by its idf,
    and runs the shared vectorized top-k. Python cost per query drops to
    O(n_terms) list ops + numpy."""
    decoded: dict[int, tuple[np.ndarray, np.ndarray]] = {}
    wanted = set()
    for hstats in per_q.values():
        wanted.update(hstats)
    for th, bdf in shard_df.groupby("term_hash"):
        th = int(th)
        if th not in wanted:
            continue
        doc_parts, wtf_parts = [], []
        for first, gaps, tfs_b, dls_b, n in zip(
            bdf["first_doc_id"], bdf["doc_gaps"], bdf["tfs"], bdf["dls"], bdf["n_docs"]
        ):
            n = int(n)
            doc_parts.append(decode_doc_ids_payload(int(first), gaps, n))
            tf = decode_payload(tfs_b, n).astype(np.float64)
            dl = decode_payload(dls_b, n).astype(np.float64)
            wtf_parts.append((tf * (K1 + 1)) / (tf + K1 * (1 - B + B * dl / avgdl)))
        decoded[th] = (np.concatenate(doc_parts), np.concatenate(wtf_parts))
    out: list[tuple[str, int, float]] = []
    for qid, hstats in per_q.items():
        doc_parts, score_parts = [], []
        for th, st in hstats.items():
            hit = decoded.get(int(th))
            if hit is not None:
                doc_parts.append(hit[0])
                score_parts.append(st["idf"] * hit[1])
        if not doc_parts:
            continue
        for doc, score in _topk_from_arrays(
            np.concatenate(doc_parts), np.concatenate(score_parts), k
        ):
            out.append((qid, doc, score))
    return out


class _BlockMeta:
    """Per-(term, segment) block metadata WITHOUT payload decode: the
    block-granular view the vectorized kernel plans over. A layered (NRT)
    index has one meta per (term, segment): block_ids restart at 0 and
    doc_id ranges overlap across segments.

    ``bounds`` picks the block upper bound used for pruning:
    - "wtf": the stored ``block_max_wtf`` (embeds build-time avgdl) — exact
      and tightest, valid only while corpus avgdl == build avgdl.
    - "tf": recomputed from ``block_max_tf`` as
      idf·(k1+1)·tf_max/(tf_max + k1·(1−b)) — avgdl-independent (wtf is
      increasing in tf and its denominator ≥ tf + k1(1−b) for any dl,
      avgdl), so a layered index keeps block-max pruning instead of being
      forced into exhaustive scoring. Looser by the dl/avgdl term, exact
      scoring at candidates unchanged.
    """

    __slots__ = ("idf", "firsts", "lasts", "ubs", "gaps", "tfs_b", "dls_b", "n_in_block")

    def __init__(self, idf: float, bdf: pd.DataFrame, bounds: str):
        b = bdf.sort_values("block_id")
        self.idf = idf
        self.firsts = b["first_doc_id"].to_numpy(np.int64)
        self.n_in_block = b["n_docs"].to_numpy(np.int64)
        self.gaps = b["doc_gaps"].tolist()
        self.tfs_b = b["tfs"].tolist()
        self.dls_b = b["dls"].tolist()
        if bounds == "tf":
            tf_max = b["block_max_tf"].to_numpy(np.float64)
            ub = (tf_max * (K1 + 1)) / (tf_max + K1 * (1 - B))
        else:
            ub = b["block_max_wtf"].to_numpy(np.float64)
        self.ubs = ub * idf * _UB_INFLATE
        # conservative per-block last doc id: next block's first - 1 (>=
        # the true last, so overlap tests only ever decode extra, never
        # miss); final block is open-ended — int64 max, NOT a smaller
        # sentinel: xxhash64 doc ids span the full int64 range, so any
        # lower value can fall below a real doc id and zero the block's
        # interval coverage
        self.lasts = np.empty(len(self.firsts), dtype=np.int64)
        if len(self.firsts) > 1:
            self.lasts[:-1] = self.firsts[1:] - 1
        self.lasts[-1] = _INF

    def decode(self, bi: int, avgdl: float) -> tuple[np.ndarray, np.ndarray]:
        """(doc_ids, idf-scaled exact scores) of block ``bi``."""
        n = int(self.n_in_block[bi])
        docs = decode_doc_ids_payload(int(self.firsts[bi]), self.gaps[bi], n)
        tf = decode_payload(self.tfs_b[bi], n).astype(np.float64)
        dl = decode_payload(self.dls_b[bi], n).astype(np.float64)
        return docs, self.idf * (tf * (K1 + 1)) / (tf + K1 * (1 - B + B * dl / avgdl))


def _blockmax_shard(
    groups: pd.DataFrame,
    hstats: dict[int, dict],
    avgdl: float,
    k: int,
    bounds: str = "wtf",
) -> list[tuple[int, float]]:
    """Vectorized block-max top-k: exact BM25 scores, block-granular
    pruning, no per-document Python.

    The per-document pointer WAND (the cross-check reference in
    tests/wand_pointer.py) pays interpreted-Python cost per posting advance —
    exactly where high-df queries live. This kernel works at BLOCK
    granularity instead:

    1. Doc-id space is partitioned into intervals at every block boundary
       of every (term, segment) posting list. Within an interval, each
       list contributes at most one block, so the interval's score upper
       bound is the sum of the covering blocks' (inflated) block maxima —
       computed for ALL intervals at once with a difference-array cumsum.
    2. Intervals are processed in DESCENDING bound order in chunks: the
       blocks overlapping a chunk are payload-decoded (cached — a block
       spanning several intervals decodes once), restricted to the chunk's
       intervals with one vectorized membership test, segment-summed per
       doc, and merged into the running top-k.
    3. After each chunk theta (the running k-th score, doc-asc ties kept)
       rises, and every remaining interval whose bound cannot beat it is
       dropped wholesale. Processing in bound order makes theta climb to
       its final value almost immediately, so the tail of low-bound
       intervals — the bulk of a Zipf posting list — is never decoded.

    A doc lives in exactly one interval and, per (term, segment), in
    exactly one block, so chunk results never overlap: per-doc sums are
    complete the moment their interval is processed. Exactness matches
    the exhaustive kernel (same scoring expression, same tie rules);
    rank-identity is asserted in tests against both the DataFrame path
    and the pointer kernel.
    """
    metas: list[_BlockMeta] = []
    if "group" in groups.columns:
        key_iter = ((th, bdf) for (th, _g), bdf in groups.groupby(["term_hash", "group"]))
    else:
        key_iter = groups.groupby("term_hash")
    for th, bdf in key_iter:
        st = hstats.get(int(th))
        if st is not None:
            metas.append(_BlockMeta(st["idf"], bdf, bounds))
    if not metas:
        return []
    # ---- interval partition of doc-id space at all block boundaries
    pts = np.unique(np.concatenate([m.firsts for m in metas]))
    n_iv = len(pts)
    # ---- per-interval upper-bound sums via difference array + cumsum
    ub_diff = np.zeros(n_iv + 1, dtype=np.float64)
    meta_si: list[np.ndarray] = []
    meta_ei: list[np.ndarray] = []
    for m in metas:
        si = np.searchsorted(pts, m.firsts, side="left")  # firsts are in pts
        ei = np.searchsorted(pts, m.lasts, side="right")  # first interval AFTER the block
        meta_si.append(si)
        meta_ei.append(ei)
        np.add.at(ub_diff, si, m.ubs)
        np.add.at(ub_diff, ei, -m.ubs)
    # inflate against cumsum rounding (bound must never come out below the
    # true sum); absolute epsilon keeps exact-zero tails prunable once
    # theta is positive
    ub_sum = np.cumsum(ub_diff[:-1]) * _UB_INFLATE + 1e-9
    order = np.argsort(-ub_sum, kind="stable")

    run_docs = np.empty(0, dtype=np.int64)
    run_scores = np.empty(0, dtype=np.float64)
    theta = -1.0
    cache: dict[tuple[int, int], tuple[np.ndarray, np.ndarray]] = {}
    member = np.zeros(n_iv, dtype=bool)
    pending = order
    chunk = 512  # small first chunk seeds theta before any pruning decision
    while len(pending):
        if chunk != 512:  # past the seed chunk: prune, then assess
            if theta >= 0.0:
                kept = pending[ub_sum[pending] > theta - _EPS]
                if len(kept) == 0:
                    break
                # pruning ineffective (bounds are processed in descending
                # order, so theta won't improve on the survivors either —
                # e.g. a sparse rare term whose wide block spans blanket
                # the doc space): finish in ONE vectorized pass instead of
                # paying per-chunk merge overhead for nothing
                if len(kept) > 0.6 * len(pending):
                    chunk = len(kept)
                pending = kept
            else:
                # k never filled from the highest-bound intervals: theta
                # cannot prune anything — one pass over the rest
                chunk = len(pending)
        take = pending[:chunk]
        pending = pending[chunk:]
        chunk = max(chunk, 4096)
        member[:] = False
        member[take] = True
        mcum = np.concatenate(([0], np.cumsum(member)))
        doc_parts: list[np.ndarray] = []
        score_parts: list[np.ndarray] = []
        starts = pts[take]
        for mi, m in enumerate(metas):
            bi = np.searchsorted(m.firsts, starts, side="right") - 1
            # the block preceding an interval start may end before it; the
            # block AT an interval start always overlaps (firsts are pts)
            valid = bi >= 0
            np.logical_and(valid, m.lasts[np.maximum(bi, 0)] >= starts, out=valid)
            si, ei = meta_si[mi], meta_ei[mi]
            for b in np.unique(bi[valid]):
                key = (mi, int(b))
                hit = cache.get(key)
                if hit is None:
                    hit = cache[key] = m.decode(int(b), avgdl)
                docs, scores = hit
                if mcum[ei[b]] - mcum[si[b]] == ei[b] - si[b]:
                    # every interval this block spans is in the chunk:
                    # append whole arrays, skip the membership gather
                    doc_parts.append(docs)
                    score_parts.append(scores)
                    continue
                iv = np.searchsorted(pts, docs, side="right") - 1
                mask = member[iv]
                if mask.any():
                    doc_parts.append(docs[mask])
                    score_parts.append(scores[mask])
        if not doc_parts:
            continue
        cd = np.concatenate(doc_parts)
        cs = np.concatenate(score_parts)
        co = np.argsort(cd, kind="stable")
        cd, cs = cd[co], cs[co]
        bnd = np.flatnonzero(np.concatenate(([True], cd[1:] != cd[:-1])))
        run_docs = np.concatenate([run_docs, cd[bnd]])
        run_scores = np.concatenate([run_scores, np.add.reduceat(cs, bnd)])
        if len(run_docs) > k:
            # keep top-k plus theta ties (doc-asc tiebreak stays exact)
            boundary = run_scores[np.argpartition(-run_scores, k - 1)[:k]].min()
            keep = run_scores >= boundary
            run_docs, run_scores = run_docs[keep], run_scores[keep]
            theta = boundary
    sel = np.lexsort((run_docs, -run_scores))[:k]
    return [(int(run_docs[i]), float(run_scores[i])) for i in sel]


def _wand_shard(
    groups: pd.DataFrame,
    hstats: dict[int, dict],
    avgdl: float,
    k: int,
    exhaustive_threshold: int,
    bounds: str = "wtf",
) -> list[tuple[int, float]]:
    """Shard-local top-k dispatch: small posting sets take the exhaustive
    kernel (theta can't prune enough to beat flat numpy); large ones take
    the vectorized block-max kernel. The threshold is an argument, captured
    driver-side: executor workers re-import this module, so a patched
    module global would silently not reach them."""
    if int(groups["n_docs"].sum()) <= exhaustive_threshold:
        return _exhaustive_shard(groups, hstats, avgdl, k)
    return _blockmax_shard(groups, hstats, avgdl, k, bounds)


def bm25_topk_wand(
    spark: SparkSession, index_dir: str, query_text: str, k: int = 10
) -> DataFrame:
    """Returns (rank int, doc_id long, score double) via block-max WAND: a
    one-shot ``IndexQueryEngine.topk`` over the unpersisted blocks. Within
    the engine's driver-path bounds the answer is computed at call time,
    in one job to pin the dictionary and one Arrow collect of the query's
    blocks (plus a listing job when the blocks span more than 32 shard
    dirs), and the returned frame's collect runs no job."""
    from .engine import IndexQueryEngine  # engine imports this module

    return IndexQueryEngine(spark, index_dir, persist_blocks=False).topk(query_text, k)
