"""Reference BM25 top-k answers computed by DuckDB from the source corpus.

The oracle reads only the parquet files the benchmark generated, never the
engine's index tables. It tokenizes with the analyzer spec's DuckDB rendering
(``analyzer.duckdb_tokens_sql``) and scores BM25 with k1=1.2, b=0.75 and
idf = ln(1 + (N - df + 0.5) / (df + 0.5)), ties broken by doc_id ascending.
"""

from __future__ import annotations

import duckdb
import pandas as pd

from data_prepper_spark.analyzer import duckdb_tokens_sql

K1, B = 1.2, 0.75
SCORE_TOL = 1e-6
# scores closer than this are one tie group: the engine and DuckDB may sum a
# document's per-term scores in different orders, which moves the last bits
TIE_TOL = 1e-9


class Oracle:
    def __init__(self, src_dir: str, doc_ids: pd.DataFrame, tmp_dir: str):
        """``doc_ids``: (path, doc_id) for every source row; path is unique.
        DuckDB spills, if ever, into ``tmp_dir``."""
        # two threads: the oracle loads while no Spark job runs, and stays small
        self.con = duckdb.connect(config={"threads": 2, "temp_directory": tmp_dir})
        self.con.register("ids", doc_ids)
        self.con.execute(
            f"CREATE TABLE d AS SELECT path, {duckdb_tokens_sql('content')} AS toks "
            f"FROM read_parquet('{src_dir}/*.parquet')"
        )
        self.con.execute(
            "CREATE TABLE post AS SELECT path, term, count(*) AS tf "
            "FROM (SELECT path, unnest(toks) AS term FROM d) GROUP BY path, term"
        )
        self.con.execute(
            "CREATE TABLE dl AS SELECT d.path, len(d.toks) AS dl, ids.doc_id "
            "FROM d JOIN ids USING (path)"
        )
        self.con.execute("CREATE TABLE df AS SELECT term, count(*) AS df FROM post GROUP BY term")
        self.n_docs, self.avgdl = self.con.execute("SELECT count(*), avg(dl) FROM dl").fetchone()

    def topk(self, queries: list[str], k: int) -> list[list[tuple[int, float]]]:
        """Top-k (doc_id, score) per query text, in input order."""
        self.con.register("q", pd.DataFrame({"qid": range(len(queries)), "text": queries}))
        rows = self.con.execute(
            f"""
            WITH qt AS (
                SELECT DISTINCT qid, unnest({duckdb_tokens_sql('text')}) AS term FROM q
            ), s AS (
                SELECT qt.qid, dl.doc_id,
                       sum(ln(1 + ($n - df.df + 0.5) / (df.df + 0.5))
                           * (post.tf * ({K1} + 1))
                           / (post.tf + {K1} * (1 - {B} + {B} * dl.dl / $avgdl))) AS score
                FROM qt JOIN post USING (term) JOIN df USING (term) JOIN dl USING (path)
                GROUP BY qt.qid, dl.doc_id
            )
            SELECT qid, doc_id, score FROM (
                SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS r
                FROM s
            ) WHERE r <= $k ORDER BY qid, r
            """,
            {"n": self.n_docs, "avgdl": self.avgdl, "k": k},
        ).fetchall()
        self.con.unregister("q")
        out: list[list[tuple[int, float]]] = [[] for _ in queries]
        for qid, doc_id, score in rows:
            out[qid].append((int(doc_id), float(score)))
        return out

    def close(self) -> None:
        self.con.close()


def same_answer(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> bool:
    """Same doc ids in the same order, scores within SCORE_TOL. Inside a group
    of tied scores (within TIE_TOL) the order of ids is not compared."""
    if len(got) != len(want):
        return False
    if any(abs(g[1] - w[1]) > SCORE_TOL for g, w in zip(got, want)):
        return False
    i = 0
    while i < len(want):
        j = i + 1
        while j < len(want) and abs(want[j][1] - want[i][1]) <= TIE_TOL:
            j += 1
        if {d for d, _ in got[i:j]} != {d for d, _ in want[i:j]}:
            return False
        i = j
    return True
