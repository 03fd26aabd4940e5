"""BM25 (Okapi, Elasticsearch-7.x-default variant) — one pinned formula.

The reference relies on Elasticsearch's default similarity for the documents
it indexes (/root/reference/lib/handler.js:98-108 ships docs to ES; README.md
positions the lambda as the indexing half of a search stack). BASELINE.json
pins ``k1=1.2, b=0.75`` with Lucene idf.

This module is the single source of truth for the formula: the Spark engine,
the pure-Python oracle (tests/oracle.py), and the DuckDB SQL oracle
(__spark_entry__.py) all derive from these definitions, so rank identity is
by construction.

  idf(t)      = ln(1 + (N - df + 0.5) / (df + 0.5))          (Lucene BM25)
  score(t, d) = idf(t) * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

Determinism: float64 throughout; multi-term scores are summed in ascending
term order (both engine and oracles sort terms before accumulating).
"""

from __future__ import annotations

import numpy as np

K1 = 1.2
B = 0.75


def idf(n_docs: float, df) -> np.ndarray:
    """Lucene idf: ln(1 + (N - df + 0.5)/(df + 0.5)). Vectorized."""
    df = np.asarray(df, dtype=np.float64)
    return np.log1p((float(n_docs) - df + 0.5) / (df + 0.5))


def tf_norm(tf, dl, avgdl, k1: float = K1, b: float = B) -> np.ndarray:
    """tf / (tf + k1*(1 - b + b*dl/avgdl)) — the doc-dependent factor.
    ``avgdl`` is a scalar or a per-posting array (multi-field queries).

    Monotone increasing in tf, decreasing in dl: the block-max bound
    uses tf_norm(max_tf, min_dl) (functions/codec.py block metadata).
    """
    tf = np.asarray(tf, dtype=np.float64)
    dl = np.asarray(dl, dtype=np.float64)
    avgdl = np.asarray(avgdl, dtype=np.float64)
    return tf / (tf + k1 * (1.0 - b + b * dl / avgdl))


def score(tf, dl, df, n_docs: float, avgdl: float,
          k1: float = K1, b: float = B) -> np.ndarray:
    """Full per-(term, doc) BM25 contribution. Vectorized float64."""
    return idf(n_docs, df) * (k1 + 1.0) * tf_norm(tf, dl, avgdl, k1, b)


def block_upper_bound(max_tf, min_dl, df, n_docs: float, avgdl: float,
                      k1: float = K1, b: float = B) -> np.ndarray:
    """Safe upper bound on any score inside a block (block-max WAND)."""
    return score(max_tf, min_dl, df, n_docs, avgdl, k1, b)


def spark_score_sql(tf: str, dl: str, df: str, n: str, avgdl: str) -> str:
    """Spark SQL expression for the identical formula (float64 built-ins)."""
    return (
        f"ln(1.0 + ({n} - {df} + 0.5) / ({df} + 0.5)) * ({K1} + 1.0) * {tf} / "
        f"({tf} + {K1} * (1.0 - {B} + {B} * {dl} / {avgdl}))"
    )


def duckdb_score_sql(tf: str, dl: str, df: str, n: str, avgdl: str) -> str:
    """DuckDB SQL expression for the identical formula."""
    return (
        f"ln(1.0 + ({n} - {df} + 0.5) / ({df} + 0.5)) * ({K1} + 1.0) * {tf} / "
        f"({tf} + {K1} * (1.0 - {B} + {B} * {dl} / {avgdl}))"
    )
