"""Per-document block-max WAND (Ding & Suel): the pointer kernel the
vectorized serving kernels in data_prepper_spark/query/wand.py are
cross-checked against. Per-posting Python makes it 5-10x slower than them
at high df, so it serves only as a test reference."""

from __future__ import annotations

import bisect

import numpy as np
import pandas as pd

from data_prepper_spark.index.bitpack import decode_doc_ids_payload, decode_payload
from data_prepper_spark.query.common import B, K1
from data_prepper_spark.query.wand import _EPS, _INF, _UB_INFLATE


class _Cursor:
    """Per-(term, segment) posting cursor over that term's blocks within one
    shard. On a layered (NRT) index a term has one cursor per segment:
    block_ids restart at 0 and doc_id ranges overlap across segments, so a
    single cursor over the union would mis-sort, but independent cursors
    are just more posting lists and WAND's pivot logic is indifferent.
    ``bounds`` has the semantics of wand._BlockMeta ("wtf" stored bounds,
    "tf" avgdl-independent bounds for layered indexes)."""

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


def wand_shard_pointer(
    groups: pd.DataFrame,
    hstats: dict[int, dict],
    avgdl: float,
    k: int,
    bounds: str = "wtf",
) -> list[tuple[int, float]]:
    """Per-document block-max WAND (Ding & Suel) — the classic pointer
    kernel, the semantic reference the serving kernels are asserted
    rank-identical to."""
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
