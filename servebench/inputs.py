"""Seeded inputs for the serving benchmark: a synthetic source-code
corpus, document batches to append, and a Zipf-sampled query stream.

The generator lives here rather than in the engine package so that a
change to the engine's own corpus helpers never changes what the
benchmark feeds it: the same ``--seed`` gives byte-identical inputs on
every commit.  Everything is materialized to parquet with pyarrow
before the engine reads it, so input generation costs no Spark job.
"""

from __future__ import annotations

import bisect
import os
import random
from collections import Counter

import pyarrow as pa
import pyarrow.parquet as pq

LANGS = ("python", "java", "go", "rust")
HEAD = ("get set init main run data value result index count flag node list "
        "map key item self buffer offset size").split()
STEMS = ("parse encode decode merge split filter reduce hash sort scan emit "
         "pack fetch store load dump sync lock alloc token block score weight "
         "norm shard probe").split()
SUFFIXES = 24
TEMPLATES = {
    "python": "def {f}({a}, {b}):\n    {v} = {a} + {b}\n    return {v}\n",
    "java": "int {f}(int {a}, int {b}) {{ int {v} = {a} + {b}; return {v}; }}\n",
    "go": "func {f}({a}, {b} int) int {{ {v} := {a} + {b}; return {v} }}\n",
    "rust": "fn {f}({a}: i64, {b}: i64) -> i64 {{ let {v} = {a} + {b}; {v} }}\n",
}
# queries made only of terms no corpus row contains: out of vocabulary,
# so the engine must answer them with zero hits
OOV_QUERIES = ("zq_absent", "xv_missing qq_nowhere", "wj_unknown",
               "qq_nowhere zq_absent")
_OOV_TERMS = frozenset(t for q in OOV_QUERIES for t in q.split())


class Zipf:
    """Zipf(s) sampler over a ranked list of items."""

    def __init__(self, items: list, s: float = 1.0):
        self.items = list(items)
        weights = [1.0 / (r + 1) ** s for r in range(len(self.items))]
        total = sum(weights)
        acc, self.cdf = 0.0, []
        for w in weights:
            acc += w / total
            self.cdf.append(acc)

    def pick(self, rng: random.Random):
        i = bisect.bisect_left(self.cdf, rng.random())
        return self.items[min(i, len(self.items) - 1)]


VOCAB = HEAD + [f"{s}_{i}" for s in STEMS for i in range(SUFFIXES)]
_WORDS = Zipf(VOCAB)


def doc_row(seed: int, i: int) -> dict:
    """Document ``i`` of the corpus for ``seed`` (a pure function of
    both, so appended batches continue the same id space)."""
    rng = random.Random(f"doc:{seed}:{i}")
    lang = LANGS[i % len(LANGS)]
    pick = lambda: _WORDS.pick(rng)  # noqa: E731
    body = "".join(TEMPLATES[lang].format(f=pick(), a=pick(), b=pick(),
                                          v=pick())
                   for _ in range(1 + rng.randrange(4)))
    body += "# " + " ".join(pick() for _ in range(rng.randrange(3, 9))) + "\n"
    return {"doc_id": i, "repo": f"org/repo{i % 13}",
            "path": f"src/m{i % 17}/f{i}.{lang[:2]}", "lang": lang,
            "content": body}


def write_docs(path: str, seed: int, start: int, n: int) -> int:
    """Write documents ``start .. start+n-1`` as one parquet file;
    returns the file size in bytes."""
    rows = [doc_row(seed, i) for i in range(start, start + n)]
    table = pa.Table.from_pylist(rows, schema=pa.schema([
        ("doc_id", pa.int64()), ("repo", pa.string()), ("path", pa.string()),
        ("lang", pa.string()), ("content", pa.string())]))
    pq.write_table(table, path)
    return os.path.getsize(path)


def term_df(seed: int, n: int, tokenize) -> Counter:
    """Document frequency of every term of documents ``0 .. n-1``."""
    df: Counter = Counter()
    for i in range(n):
        df.update(set(tokenize(doc_row(seed, i)["content"])))
    return df


def query_set(seed: int, n: int = 48, oov: int = len(OOV_QUERIES),
              df: Counter | None = None, min_df: int = 3) -> list[str]:
    """Distinct pool of ``n`` queries: 1-3 Zipf-drawn vocabulary terms
    each, plus ``oov`` queries made only of out-of-vocabulary terms.
    Pool order is the popularity rank the request sampler uses, with
    the OOV queries spread through it.  With a corpus's ``df``, every
    term of a vocabulary query is in at least ``min_df`` documents, so
    the query scores even after a few deletions; a rare vocabulary term
    may be in no document at all, which would make the query OOV."""
    rng = random.Random(f"pool:{seed}")
    pool: list[str] = []
    while len(pool) < n - oov:
        terms = [_WORDS.pick(rng) for _ in range(1 + rng.randrange(3))]
        q = " ".join(terms)
        if q not in pool and (df is None
                              or min(df[t] for t in terms) >= min_df):
            pool.append(q)
    for j, q in enumerate(OOV_QUERIES[:oov]):
        pool.insert((j + 1) * len(pool) // (oov + 1), q)
    return pool


def query_stream(seed: int, stream: int, pool: list[str],
                 n: int) -> list[str]:
    """``n`` requests for client ``stream``, Zipf-sampled over ``pool``."""
    rng = random.Random(f"stream:{seed}:{stream}")
    z = Zipf(pool)
    return [z.pick(rng) for _ in range(n)]


def is_oov(query: str) -> bool:
    return all(t in _OOV_TERMS for t in query.split())
