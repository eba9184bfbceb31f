"""Output checks: engine results against the generator's ground truth.

* ``rank_mismatch`` compares one query's engine top-k, resolved to urls
  through the written docmap, with the DuckDB BM25 oracle
  (``functions.bm25.bm25_oracle_sql``) over the latest-per-url corpus.
  Scores must agree rank for rank; docs tied at one rounded score are
  compared as sets, since the engine and the oracle break ties on
  different doc ids.
* ``count_mismatches`` compares ``n_docs`` and sampled ``df`` values of a
  built index with the generator's counts.

Each returns a list of human-readable mismatches; empty means correct.
"""

from __future__ import annotations

import numpy as np

# Rounded-score tolerance: both sides round to 6 decimals, and a score
# that sits on a rounding edge can round one way on each side.
SCORE_TOL = 2e-6


class Oracle:
    """DuckDB over a {url: text} corpus, doc ids in url order."""

    def __init__(self, texts: dict[str, str]):
        import duckdb
        import pandas as pd

        self.urls = sorted(texts)
        docs = pd.DataFrame(
            {"doc_id": np.arange(len(self.urls), dtype=np.int64),
             "text": [texts[u] for u in self.urls]}
        )
        self.con = duckdb.connect()
        self.con.execute("SET threads TO 2")
        self.con.register("docs_src", docs)
        self.con.execute("CREATE TABLE documents AS SELECT * FROM docs_src")
        self.con.unregister("docs_src")

    def topk(self, query: str, k: int) -> list[tuple[str, float]]:
        """Full ranking to the k-th score, ties at the k-th score included."""
        from oculus_crawl_spark.functions.analysis import tokenize
        from oculus_crawl_spark.functions.bm25 import bm25_oracle_sql

        terms = sorted(set(tokenize(query)))
        if not terms:
            return []
        rows = self.con.execute(bm25_oracle_sql(terms, k=len(self.urls))).fetchall()
        if len(rows) > k:
            kth = rows[k - 1][1]
            rows = [r for r in rows if r[1] >= kth - SCORE_TOL]
        return [(self.urls[d], float(s)) for d, s in rows]

    def close(self) -> None:
        self.con.close()


def rank_mismatch(
    query: str,
    got: list[tuple[str, float]],
    want: list[tuple[str, float]],
    k: int,
) -> list[str]:
    """Compare engine (url, score) by rank with the oracle's ranking."""
    if len(got) != min(k, len(want)):
        return [f"{query!r}: {len(got)} results, oracle has {min(k, len(want))}"]
    out = []
    for rank, ((_, gs), (_, ws)) in enumerate(zip(got, want), start=1):
        if abs(gs - ws) > SCORE_TOL:
            out.append(f"{query!r}: rank {rank} score {gs:.6f} != oracle {ws:.6f}")
            return out
    for url, score in got:
        tied = {u for u, s in want if abs(s - score) <= SCORE_TOL}
        if url not in tied:
            out.append(f"{query!r}: {url} at {score:.6f} not in the oracle's tie set")
    return out


def count_mismatches(
    n_docs: int, want_n_docs: int, df: dict[str, int], want_df: dict[str, int]
) -> list[str]:
    out = []
    if n_docs != want_n_docs:
        out.append(f"n_docs {n_docs} != generator {want_n_docs}")
    for term, want in sorted(want_df.items()):
        if df.get(term, 0) != want:
            out.append(f"df[{term}] {df.get(term, 0)} != generator {want}")
    return out
