"""Σdf sweep behind ``wand.DRIVER_MAX_POSTINGS``: driver-side ``topk_rows``
against the distributed ``topk`` plan, on warm dictionary and block caches.

    PYTHONPATH=. python scripts/driver_crossover.py <index_dir> 10000,60000,120000,150000

For each target it queries the highest-df terms whose df fits under the
target until their Σdf reaches it, checks both paths return the same rows,
and prints one JSON line with the median of 5 interleaved timings per path.
The crossover is the Σdf where ``driver_ms`` reaches ``distributed_ms``.
"""

from __future__ import annotations

import json
import statistics
import sys
import time

from data_prepper_spark.analyzer import tokenize_py
from data_prepper_spark.query.common import dict_df
from data_prepper_spark.query.engine import IndexQueryEngine
from data_prepper_spark.session import get_spark


def _ms(f) -> float:
    t0 = time.perf_counter()
    f()
    return (time.perf_counter() - t0) * 1000


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
        if eng.topk_rows(q) != eng.topk(q).collect():  # also warms both paths
            raise RuntimeError(f"driver and distributed answers differ for {q!r}")
        driver, distributed = [], []
        for _ in range(5):
            driver.append(_ms(lambda: eng.topk_rows(q)))
            distributed.append(_ms(lambda: eng.topk(q).collect()))
        print(json.dumps({
            "sigma_df": total,
            "terms": len(terms),
            "driver_ms": round(statistics.median(driver)),
            "distributed_ms": round(statistics.median(distributed)),
        }), flush=True)
    eng.close()


if __name__ == "__main__":
    main(sys.argv[1], [int(x) for x in sys.argv[2].split(",")])
