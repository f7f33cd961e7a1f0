"""Seeded ``code_files`` corpus and query sets for the benchmark.

Same schema as ``data_prepper_spark.corpus`` (repo, path, commit, lang,
content) and the same splitmix64 per-row determinism: every value is a pure
function of ``(seed, row_id)``. Unlike that corpus, whose identifiers analyze
to ~100 distinct high-df terms, this one adds a Zipf long tail of
``TAIL_VOCAB`` synthetic identifiers, so terms with df well below 0.5% of N
exist and identifier lookup (the main code-search case) can be measured.

Queries are drawn from the generator's own vocabulary ranks, never from the
engine's dictionary, so the engine receives only generated inputs.
"""

from __future__ import annotations

import math
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HOT = ("the", "int", "return", "data", "get")
KEYWORDS = (
    "def", "import", "class", "self", "none", "for", "in", "if", "else",
    "public", "static", "void", "new", "final", "null", "this", "char",
    "struct", "const", "while", "func", "package", "var", "range", "let",
    "async", "await", "export", "function", "yield",
)
SYLLABLES = (
    "parse", "read", "write", "buffer", "index", "token", "query", "score",
    "merge", "split", "hash", "block", "chunk", "node", "tree", "list",
    "count", "total", "value", "item", "cache", "flush", "batch", "shard",
    "term", "doc", "post", "rank", "sort", "scan", "emit", "state",
)
PUNCT = ("{", "}", "(", ");", "==", "//", "->", "+=")
LANGS = ("python", "java", "c", "go", "js", "md")
EXT = {"python": "py", "java": "java", "c": "c", "go": "go", "js": "js", "md": "md"}

TAIL_VOCAB = 100_000
TOKENS_PER_LINE = 7
LINES_MIN, LINES_MAX = 3, 40
# share of token slots per kind; the rest are punctuation
P_HEAD, P_IDENT, P_TAIL = 0.55, 0.22, 0.18
# head pool: each hot term takes this share of head slots, keywords share the rest
HOT_SHARE = 0.08

_U64 = np.uint64


def splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 (uint64 in, uint64 out)."""
    with np.errstate(over="ignore"):
        z = (x.astype(_U64) + _U64(0x9E3779B97F4A7C15)).astype(_U64)
        z = (z ^ (z >> _U64(30))) * _U64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> _U64(27))) * _U64(0x94D049BB133111EB)
        return z ^ (z >> _U64(31))


def u01(x: np.ndarray) -> np.ndarray:
    return (x >> _U64(11)).astype(np.float64) / float(1 << 53)


def _stream(seed: int, tag: int, ids: np.ndarray) -> np.ndarray:
    """Independent uint64 stream per (seed, tag), indexed by ``ids``."""
    key = splitmix64(np.array([seed * 0x100 + tag], dtype=_U64))[0]
    return splitmix64(ids.astype(_U64) ^ key)


def tail_token(rank: int) -> str:
    """Long-tail identifier token of Zipf rank ``rank`` (1-based). A bijection
    on ranks, so tokens are distinct; lowercase letters and digits only, so
    the analyzer keeps it as one token."""
    v = (rank * 0x9E3779B1) % 36**6
    digits = "0123456789abcdefghijklmnopqrstuvwxyz"
    s = ""
    for _ in range(6):
        v, d = divmod(v, 36)
        s += digits[d]
    return "zq" + s


def tail_rank(u: np.ndarray) -> np.ndarray:
    """Zipf(s=1) rank in [1, TAIL_VOCAB] by inverse log-uniform CDF."""
    return np.minimum(np.floor(TAIL_VOCAB ** u).astype(np.int64), TAIL_VOCAB)


def expected_tail_df(rank: float, n_docs: int) -> float:
    """Expected df of a tail rank (ignoring repeats inside one document)."""
    mean_lines = (LINES_MAX - LINES_MIN) / math.log(LINES_MAX / LINES_MIN)
    tail_per_doc = mean_lines * TOKENS_PER_LINE * P_TAIL
    return n_docs * tail_per_doc / (rank * math.log(TAIL_VOCAB))


_HEAD = np.array(HOT + KEYWORDS, dtype=object)
_HEAD_CDF = np.cumsum(
    [HOT_SHARE] * len(HOT) + [(1 - HOT_SHARE * len(HOT)) / len(KEYWORDS)] * len(KEYWORDS)
)
_PUNCT = np.array(PUNCT, dtype=object)


def _ident(a: str, b: str, style: int) -> str:
    if style == 0:
        return a + b.capitalize()
    if style == 1:
        return a + "_" + b
    return a


def gen_docs(seed: int, n: int) -> pa.Table:
    """The first ``n`` rows of the corpus for ``seed``."""
    ids = np.arange(n, dtype=np.int64)
    h = [_stream(seed, t, ids) for t in range(6)]
    org = np.minimum((60.0 ** u01(h[0])).astype(np.int64) - 1, 59)
    proj = (h[1] % _U64(16)).astype(np.int64)
    lang = np.array(LANGS, dtype=object)[(h[2] % _U64(len(LANGS))).astype(np.int64)]
    n_lines = (LINES_MIN * ((LINES_MAX / LINES_MIN) ** u01(h[3]))).astype(np.int64)
    repos, paths, commits, contents = [], [], [], []
    for i in range(n):
        rid = int(ids[i])
        repos.append(f"org{org[i]}/proj{proj[i]}")
        a = SYLLABLES[int(h[4][i] % _U64(32))]
        b = SYLLABLES[int((h[4][i] >> _U64(8)) % _U64(32))]
        paths.append(f"src/{a}/{b}_{rid}.{EXT[lang[i]]}")
        commits.append(f"{int(h[5][i]):016x}{int(h[4][i]):016x}{rid & 0xFFFFFFFF:08x}")
        nt = int(n_lines[i]) * TOKENS_PER_LINE
        g = splitmix64((_U64(rid) * _U64(0x1000003)) ^ _U64(seed) ^ (np.arange(nt, dtype=_U64) << _U64(32)))
        kind = u01(g)
        sub = u01(splitmix64(g))
        toks = np.empty(nt, dtype=object)
        head = kind < P_HEAD
        toks[head] = _HEAD[np.searchsorted(_HEAD_CDF, sub[head] * _HEAD_CDF[-1], side="right").clip(0, len(_HEAD) - 1)]
        ident = (kind >= P_HEAD) & (kind < P_HEAD + P_IDENT)
        tail = (kind >= P_HEAD + P_IDENT) & (kind < P_HEAD + P_IDENT + P_TAIL)
        punct = kind >= P_HEAD + P_IDENT + P_TAIL
        gi = g >> _U64(40)
        for j in np.flatnonzero(ident):
            v = int(gi[j])
            toks[j] = _ident(SYLLABLES[v % 32], SYLLABLES[(v >> 5) % 32], (v >> 10) % 2)
        ranks = tail_rank(sub[tail])
        for j, r in zip(np.flatnonzero(tail), ranks):
            v = int(gi[j])
            toks[j] = _ident(SYLLABLES[v % 32], tail_token(int(r)), (v >> 5) % 3)
        toks[punct] = _PUNCT[(gi[punct] % _U64(len(PUNCT))).astype(np.int64)]
        contents.append(
            "\n".join(" ".join(toks[k : k + TOKENS_PER_LINE]) for k in range(0, nt, TOKENS_PER_LINE))
        )
    return pa.table(
        {
            "repo": pa.array(repos, pa.string()),
            "path": pa.array(paths, pa.string()),
            "commit": pa.array(commits, pa.string()),
            "lang": pa.array(list(lang), pa.string()),
            "content": pa.array(contents, pa.string()),
        }
    )


def write_corpus(table: pa.Table, out_dir: str, n_files: int) -> int:
    """Write ``table`` as ``n_files`` parquet files; returns content bytes."""
    os.makedirs(out_dir, exist_ok=True)
    step = math.ceil(table.num_rows / n_files)
    for f in range(n_files):
        pq.write_table(table.slice(f * step, step), os.path.join(out_dir, f"part-{f:03d}.parquet"))
    return sum(len(c.encode()) for c in table.column("content").to_pylist())


class QueryGen:
    """Seeded query texts drawn from the generator's vocabulary ranks. Query
    shapes (term counts) cycle in a fixed order, so every run sends the same
    mix of shapes and the seed chooses only the terms."""

    SELECTIVE_SHAPES = (1, 2, 3)
    # (terms, of which hot)
    HOT_SHAPES = ((3, 1), (4, 2), (5, 1), (3, 2), (4, 1), (5, 2))
    HOT_REST = KEYWORDS[:12] + SYLLABLES[:12]
    # every term a hot query can contain
    HOT_VOCAB = HOT + HOT_REST

    def __init__(self, seed: int, n_docs: int):
        self.rng = np.random.Generator(np.random.Philox(key=seed * 7919 + 17))
        self.calls = 0
        # selective band: expected df between 5 docs and 0.5% of N
        self.r_lo = math.ceil(expected_tail_df(1, n_docs) / (0.005 * n_docs))
        self.r_hi = max(self.r_lo + 1, int(expected_tail_df(1, n_docs) / 5))

    def _shape(self, shapes):
        self.calls += 1
        return shapes[(self.calls - 1) % len(shapes)]

    def selective(self) -> str:
        """1-3 long-tail identifiers, each with expected df <= 0.5% of N."""
        u = self.rng.random(self._shape(self.SELECTIVE_SHAPES))
        ranks = np.floor(self.r_lo * (self.r_hi / self.r_lo) ** u).astype(np.int64)
        return " ".join(tail_token(int(r)) for r in ranks)

    def hot(self) -> str:
        """3-5 terms, 1-2 of them hot (df ~ N), the rest keywords and
        identifier syllables (df well above half of N)."""
        n, n_hot = self._shape(self.HOT_SHAPES)
        terms = list(self.rng.choice(HOT, n_hot, replace=False))
        terms += list(self.rng.choice(self.HOT_REST, n - n_hot, replace=False))
        return " ".join(str(t) for t in terms)
