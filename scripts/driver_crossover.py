"""Σdf sweep behind ``wand.DRIVER_MAX_POSTINGS``: the engine's driver-side
serving paths against their distributed plans, on warm dictionary and block
caches.

    PYTHONPATH=. python scripts/driver_crossover.py <index_dir> 10000,60000,120000,150000

For each target it takes the highest-df terms whose df fits under the
target until their Σdf reaches it, and times two shapes:

- ``single``: one query of all those terms, ``topk_rows`` against the
  collected ``topk`` plan;
- ``batch``: the same terms dealt round-robin into an 8-query
  ``topk_batch``, so the batch's union Σdf is the target, driver path
  against the distributed batch (forced with ``DRIVER_MAX_POSTINGS = 0``).

Each shape checks both paths return the same rows and prints one JSON line
with the median of 5 interleaved timings per path. The crossover is the
Σdf where ``driver_ms`` reaches ``distributed_ms``.
"""

from __future__ import annotations

import json
import statistics
import sys
import time

from data_prepper_spark.analyzer import tokenize_py
from data_prepper_spark.query import wand
from data_prepper_spark.query.common import dict_df
from data_prepper_spark.query.engine import IndexQueryEngine
from data_prepper_spark.session import get_spark

BATCH = 8


def _ms(f) -> float:
    t0 = time.perf_counter()
    f()
    return (time.perf_counter() - t0) * 1000


def _distributed(f):
    """Run ``f`` with the driver path switched off."""
    bound = wand.DRIVER_MAX_POSTINGS
    wand.DRIVER_MAX_POSTINGS = 0
    try:
        return f()
    finally:
        wand.DRIVER_MAX_POSTINGS = bound


def _sweep(shape: str, driver, distributed, total: int, terms: int) -> None:
    if sorted(driver()) != sorted(_distributed(distributed)):  # also warms both paths
        raise RuntimeError(f"driver and distributed {shape} answers differ at Σdf {total}")
    on_driver, off_driver = [], []
    for _ in range(5):
        on_driver.append(_ms(driver))
        off_driver.append(_ms(lambda: _distributed(distributed)))
    print(json.dumps({
        "shape": shape,
        "sigma_df": total,
        "terms": terms,
        "driver_ms": round(statistics.median(on_driver)),
        "distributed_ms": round(statistics.median(off_driver)),
    }), flush=True)


def main(index_dir: str, targets: list[int]) -> None:
    spark = get_spark("driver_crossover", extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    eng = IndexQueryEngine(spark, index_dir)
    ranked = [
        (r.term, r.df)
        for r in dict_df(spark, eng.io).select("term", "df").orderBy("df", ascending=False).collect()
        if tokenize_py(r.term) == [r.term]  # the term survives re-analysis
    ]
    for target in targets:
        terms, total = [], 0
        for term, df in ranked:
            if total >= target:
                break
            if df <= target:
                terms.append(term)
                total += df
        q = " ".join(terms)
        _sweep("single", lambda: eng.topk_rows(q), lambda: eng.topk(q).collect(), total, len(terms))
        batch = {f"q{i}": " ".join(terms[i::BATCH]) for i in range(BATCH)}

        def run_batch():
            return eng.topk_batch(batch).collect()

        _sweep("batch", run_batch, run_batch, total, len(terms))
    eng.close()


if __name__ == "__main__":
    main(sys.argv[1], [int(x) for x in sys.argv[2].split(",")])
