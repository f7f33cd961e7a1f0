"""Block-max WAND top-k over the compressed posting_blocks table.

Distributed strategy: shards are disjoint doc_id ranges (index/build.py),
so each shard runs an independent, fully sequential block-max WAND over the
query terms' blocks and emits a local top-k; the global answer is the merge
(``ORDER BY score DESC, doc_id ASC LIMIT k`` = TakeOrderedAndProject). No
cross-shard state — the only data leaving an executor is k rows per shard.
Small queries skip the executors instead: IndexQueryEngine.topk_rows and
topk_batch run the same per-shard loops (``topk_by_shard``,
``batch_topk_by_shard``) in the driver over one Arrow collect of the
query's (batch's) blocks while their postings stay within
``DRIVER_MAX_POSTINGS``.

The scan is pruned by ``term IN (...)`` pushed to parquet (blocks are
written sorted by term within each shard partition), so a query touches
only its terms' row groups in each shard.

Shard-local kernel lineup (dispatched by _wand_shard):
- exhaustive: decode-everything vectorized BM25 — fastest below
  EXHAUSTIVE_THRESHOLD postings where pruning can't beat flat numpy;
- blockmax (default above the threshold): vectorized block-granular
  pruning over a doc-id interval partition (_blockmax_shard) — all-numpy,
  degrades to ~exhaustive cost when score distributions leave nothing to
  prune, and skips whole doc-id regions when they do;
- pointer: the per-document Ding & Suel block-max WAND, kept as the
  semantic reference and cross-check target (per-posting Python makes it
  5-10x slower than the vectorized kernels at high df).

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
from pyspark.sql import functions as F

from ..analyzer import tokenize_py
from ..tableio import TableIO
from .common import K1, B, load_stats_full, query_term_stats
from ..index.varint import decode_doc_ids_payload, decode_payload

_INF = np.iinfo(np.int64).max
_EPS = 1e-12
_UB_INFLATE = 1.0 + 1e-9


class _Cursor:
    """Per-(term, segment) posting cursor over that term's blocks within one
    shard. On a merged index every (term, shard) lives in exactly one segment
    group, so "per segment" degenerates to "per term"; on a layered (NRT)
    index a term has one cursor per segment — block_ids restart at 0 and
    doc_id ranges overlap across segments, so a single cursor over the union
    would mis-sort, but independent cursors are just more posting lists and
    WAND's pivot logic is indifferent (scores for the same doc sum across
    cursors, and a doc exists in exactly one segment per term).

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

    __slots__ = (
        "idf", "global_ub", "firsts", "lasts", "gaps", "tfs_b", "dls_b",
        "n_in_block", "block_maxes", "bi", "docs", "tfs", "dls", "pos",
    )

    def __init__(self, idf: float, bdf: pd.DataFrame, avgdl: float, bounds: str = "wtf"):
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
        self.block_maxes = ub * idf * _UB_INFLATE
        self.global_ub = float(self.block_maxes.max()) if len(b) else 0.0
        # last doc_id per block = first of next block - 1 is unknown without
        # decode; store exact last via decode-on-demand, init with next-first
        self.lasts = np.empty(len(self.firsts), dtype=np.int64)
        self.lasts[:-1] = self.firsts[1:] - 1  # upper bound, exact enough for skipping
        self.lasts[-1] = _INF
        self.bi = -1
        self.pos = 0
        self.docs = self.tfs = self.dls = None
        self._load_block(0)

    def _load_block(self, bi: int) -> None:
        if bi >= len(self.firsts):
            self.bi = len(self.firsts)
            self.docs = np.array([_INF], dtype=np.int64)
            self.tfs = np.array([0.0])
            self.dls = np.array([1.0])
            self.pos = 0
            return
        n = int(self.n_in_block[bi])
        self.bi = bi
        self.docs = decode_doc_ids_payload(int(self.firsts[bi]), self.gaps[bi], n)
        self.tfs = decode_payload(self.tfs_b[bi], n).astype(np.float64)
        self.dls = decode_payload(self.dls_b[bi], n).astype(np.float64)
        self.pos = 0

    @property
    def doc(self) -> int:
        return int(self.docs[self.pos])

    def exhausted(self) -> bool:
        return self.bi >= len(self.firsts)

    def block_ub(self) -> float:
        """idf-scaled max score of the current block."""
        if self.exhausted():
            return 0.0
        return float(self.block_maxes[self.bi])

    def block_last(self) -> int:
        return _INF if self.exhausted() else int(self.lasts[self.bi])

    def next_geq(self, target: int) -> None:
        if self.exhausted():
            return
        if self.docs[-1] < target:
            # jump to the block whose first <= target <= (next first - 1)
            nbi = int(np.searchsorted(self.firsts, target, side="right"))
            # block nbi-1 may still contain target; its decoded max is docs[-1]
            if nbi - 1 > self.bi:
                self._load_block(nbi - 1)
                if self.exhausted():
                    return
            while self.docs[-1] < target:
                self._load_block(self.bi + 1)
                if self.exhausted():
                    return
        p = int(np.searchsorted(self.docs, target, side="left"))
        if p >= len(self.docs):
            self._load_block(self.bi + 1)
        else:
            self.pos = p

    def score_current(self, avgdl: float) -> float:
        tf = self.tfs[self.pos]
        dl = self.dls[self.pos]
        return self.idf * (tf * (K1 + 1)) / (tf + K1 * (1 - B + B * dl / avgdl))


def _exhaustive_shard(
    groups: pd.DataFrame, hstats: dict[int, dict], avgdl: float, k: int
) -> list[tuple[int, float]]:
    """Vectorized exhaustive BM25 over this shard's query-term blocks.

    Decode every block (numpy varint), score all postings in one
    vectorized expression, segment-sum per doc_id with add.reduceat, and
    top-k with argpartition. No per-posting Python — for the low-df regime
    where WAND's theta cannot prune much, this beats the pointer kernel by
    an order of magnitude because the work is O(postings) either way and
    here it runs at numpy speed. Produces the same (score, doc) answer as
    the pointer kernel (asserted in tests)."""
    doc_parts: list[np.ndarray] = []
    score_parts: list[np.ndarray] = []
    for th, bdf in groups.groupby("term_hash"):
        st = hstats.get(int(th))
        if st is None:
            continue
        idf = st["idf"]
        for first, gaps, tfs_b, dls_b, n in zip(
            bdf["first_doc_id"], bdf["doc_gaps"], bdf["tfs"], bdf["dls"], bdf["n_docs"]
        ):
            n = int(n)
            docs = decode_doc_ids_payload(int(first), gaps, n)
            tf = decode_payload(tfs_b, n).astype(np.float64)
            dl = decode_payload(dls_b, n).astype(np.float64)
            doc_parts.append(docs)
            # association matches batch_exhaustive_shard: idf * (wtf)
            score_parts.append(idf * ((tf * (K1 + 1)) / (tf + K1 * (1 - B + B * dl / avgdl))))
    if not doc_parts:
        return []
    docs = np.concatenate(doc_parts)
    scores = np.concatenate(score_parts)
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


# below this many postings (block metadata, no decode needed) per shard the
# vectorized exhaustive path wins; above it, theta/block-max pruning pays.
EXHAUSTIVE_THRESHOLD = 200_000

# at or below this many query postings (Σdf over the query's terms, or
# over the union of a batch's terms, known from the dictionary before any
# job runs) IndexQueryEngine.topk_rows and topk_batch pull the
# term-filtered blocks through one Arrow collect and run the shard kernels
# in the driver; above it the kernels run distributed in Python workers.
# Set at the lowest measured crossover where both paths take equal time on
# 4 vCPUs (NOTES.md, "Driver-side serving path").
DRIVER_MAX_POSTINGS = 120_000


def shard_frames(pdfs: Iterator[pd.DataFrame] | list[pd.DataFrame]) -> list[pd.DataFrame]:
    """One frame per shard from a stream of block frames: a shard's blocks
    may arrive split across Arrow batches."""
    buf: dict[int, list[pd.DataFrame]] = {}
    for pdf in pdfs:
        for s, grp in pdf.groupby("shard"):
            buf.setdefault(int(s), []).append(grp)
    return [pd.concat(parts) for parts in buf.values()]


def topk_by_shard(
    pdfs: Iterator[pd.DataFrame] | list[pd.DataFrame],
    hstats: dict[int, dict],
    avgdl: float,
    k: int,
    exhaustive_threshold: int,
    bounds: str,
) -> list[tuple[int, float]]:
    """Shard-local top-k for every shard in a stream of block frames:
    (doc_id, score) hits, k per shard, in no global order. The one kernel
    loop behind the mapInPandas closures and the engine's driver-side
    path."""
    hits: list[tuple[int, float]] = []
    for shard_df in shard_frames(pdfs):
        hits.extend(_wand_shard(shard_df, hstats, avgdl, k, exhaustive_threshold, bounds))
    return hits


def hits_frame(hits: list[tuple[int, float]]) -> pd.DataFrame:
    """(doc_id long, score double) frame of kernel hits for mapInPandas."""
    return pd.DataFrame(
        {
            "doc_id": pd.Series([d for d, _ in hits], dtype="int64"),
            "score": pd.Series([s for _, s in hits], dtype="float64"),
        }
    )


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
    query), in no global order. The batch twin of ``topk_by_shard``,
    behind the engine's ``topk_batch`` closure and its driver-side path.
    A shard within the exhaustive threshold decodes each term's blocks
    once for all queries (``batch_exhaustive_shard``)."""
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
    """Segment-sum per doc + exact top-k (score desc, doc asc) — the shared
    tail of the exhaustive kernels."""
    order = np.argsort(docs, kind="stable")
    d, s = docs[order], scores[order]
    starts = np.flatnonzero(np.concatenate(([True], d[1:] != d[:-1])))
    sums = np.add.reduceat(s, starts)
    uniq = d[starts]
    if len(sums) > k:
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
    block-granular view the vectorized kernel plans over. Same bounds
    semantics as _Cursor (wtf = stored build-time bound, tf = avgdl-
    independent recomputation for layered indexes)."""

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

    The per-document pointer WAND (kept below as ``_wand_shard_pointer``
    for cross-checks) pays interpreted-Python cost per posting advance —
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
    exhaustive_threshold: int | None = None,
    bounds: str = "wtf",
    kernel: str = "blockmax",
) -> list[tuple[int, float]]:
    """Shard-local top-k dispatch: small posting sets take the exhaustive
    kernel (theta can't prune enough to beat flat numpy); large ones take
    the vectorized block-max kernel. ``kernel='pointer'`` selects the
    per-document WAND (cross-check / reference implementation)."""
    # callers capture the threshold DRIVER-side and pass it through the
    # closure: executor workers re-import this module, so a patched module
    # global would silently not reach them
    thr = EXHAUSTIVE_THRESHOLD if exhaustive_threshold is None else exhaustive_threshold
    if int(groups["n_docs"].sum()) <= thr:
        return _exhaustive_shard(groups, hstats, avgdl, k)
    if kernel == "blockmax":
        return _blockmax_shard(groups, hstats, avgdl, k, bounds)
    return _wand_shard_pointer(groups, hstats, avgdl, k, bounds)


def _wand_shard_pointer(
    groups: pd.DataFrame,
    hstats: dict[int, dict],
    avgdl: float,
    k: int,
    bounds: str = "wtf",
) -> list[tuple[int, float]]:
    """Per-document block-max WAND (Ding & Suel) — the classic pointer
    kernel. Retained as the semantic reference for the vectorized
    block-max kernel (rank-identity asserted in tests) and for A/B
    benchmarking; the serving path uses _blockmax_shard."""
    # one cursor per (term, segment): the `group` partition column is the
    # segment id; see _Cursor docstring for why layered segments must not
    # share a cursor
    if "group" in groups.columns:
        key_iter = (
            (th, bdf) for (th, _g), bdf in groups.groupby(["term_hash", "group"])
        )
    else:
        key_iter = groups.groupby("term_hash")
    cursors = []
    for th, bdf in key_iter:
        st = hstats.get(int(th))
        if st is not None:
            cursors.append(_Cursor(st["idf"], bdf, avgdl, bounds))
    cursors = [c for c in cursors if not c.exhausted()]
    # top-k kept as (score, -doc_id) min-heap semantics via sorted list; k is
    # small (<=100) so an insort is cheaper than heap bookkeeping in Python.
    import bisect

    top: list[tuple[float, int]] = []  # (score, -doc_id), ascending

    def theta() -> float:
        return top[0][0] if len(top) >= k else -1.0

    while cursors:
        cursors.sort(key=lambda c: c.doc)
        while cursors and cursors[-1].exhausted():
            cursors.pop()
        if not cursors:
            break
        th = theta()
        acc = 0.0
        pivot = -1
        for i, c in enumerate(cursors):
            acc += c.global_ub
            if acc > th - _EPS:
                pivot = i
                break
        if pivot < 0:
            break  # even all terms together cannot beat theta
        pivot_doc = cursors[pivot].doc
        if pivot_doc == _INF:
            break
        # extend the pivot over every cursor tied on pivot_doc: their
        # blocks also bound pivot_doc's score, and excluding them let the
        # safe-skip advance prefix cursors past a doc that suffix cursors
        # would later score WITHOUT the skipped contributions (partial
        # score) — the classic WAND pivot-tie detail
        while pivot + 1 < len(cursors) and cursors[pivot + 1].doc == pivot_doc:
            pivot += 1
        if cursors[0].doc == pivot_doc:
            # aligned: cursors[0..pivot] all sit exactly on pivot_doc, so
            # their current blocks contain it — block-max refinement first
            bm = sum(c.block_ub() for c in cursors[: pivot + 1])
            if bm > th - _EPS:
                score = 0.0
                matched = []
                for c in cursors:
                    if not c.exhausted() and c.doc == pivot_doc:
                        score += c.score_current(avgdl)
                        matched.append(c)
                if score > th - _EPS:
                    key = (score, -pivot_doc)
                    if len(top) < k:
                        bisect.insort(top, key)
                    elif key > top[0]:
                        top.pop(0)
                        bisect.insort(top, key)
                for c in matched:
                    c.next_geq(pivot_doc + 1)
            else:
                # safe skip: within [pivot_doc, d') only cursors[0..pivot]
                # can match, and their block maxes sum <= theta
                d_next = min(c.block_last() for c in cursors[: pivot + 1]) + 1
                if pivot + 1 < len(cursors):
                    d_next = min(d_next, cursors[pivot + 1].doc)
                d_next = max(d_next, pivot_doc + 1)
                for c in cursors[: pivot + 1]:
                    if c.doc < d_next:
                        c.next_geq(d_next)
        else:
            # not aligned: advance the smallest cursor up to the pivot doc
            cursors[0].next_geq(pivot_doc)
    return [(-negdoc, score) for score, negdoc in sorted(top, reverse=True)]


def bm25_topk_wand(
    spark: SparkSession,
    index_dir: str,
    query_text: str,
    k: int = 10,
    exhaustive_threshold: int | None = None,
) -> DataFrame:
    """Returns (rank int, doc_id long, score double) via block-max WAND."""
    io = TableIO(index_dir)
    n_docs, avgdl, layered = load_stats_full(spark, io)
    terms = sorted(set(tokenize_py(query_text)))
    tstats = query_term_stats(spark, io, terms, n_docs)
    empty = "rank int, doc_id long, score double"
    if not tstats:
        return spark.createDataFrame([], empty)
    hstats = {s["hash"]: s for s in tstats.values()}
    blocks = io.read(spark, "posting_blocks").where(
        F.col("term_hash").isin(list(hstats))
    )

    # layered index: stored wtf bounds embed a stale avgdl -> prune with the
    # avgdl-independent tf-only bounds instead (per-segment cursors); the
    # pointer kernel keeps working, no forced exhaustive scan
    bounds = "tf" if layered else "wtf"
    thr = EXHAUSTIVE_THRESHOLD if exhaustive_threshold is None else exhaustive_threshold
    # live-docs: widen the per-shard kernel top-k by the tombstone count
    # so the post-filter global top-k stays exact (refresh purges the
    # postings but keeps the tombstones, so the widening stays)
    from .common import live_filter, tombstones

    dead = tombstones(spark, io)
    kk = k + dead[0]

    def per_shard(pdfs: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # mapInPandas over shard-partitioned scan: each incoming batch holds
        # one shard's term-blocks (we repartition by shard below)
        yield hits_frame(topk_by_shard(pdfs, hstats, avgdl, kk, thr, bounds))

    local = live_filter(
        spark, io,
        blocks.repartition("shard").mapInPandas(per_shard, "doc_id long, score double"),
        dead,
    )
    topk = local.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)
    from pyspark.sql.window import Window

    # rank over the already-top-k rows: partitionBy(lit(0)) declares the
    # single partition explicitly (<= k rows), silencing WindowExec's
    # move-all-data warning without changing the plan's work
    w = F.row_number().over(Window.partitionBy(F.lit(0)).orderBy(F.desc("score"), F.asc("doc_id")))
    return topk.select(w.alias("rank"), "doc_id", "score")
