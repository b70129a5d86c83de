"""Independent checks of the service's answers, and the timing summary rule.

The search reference re-derives ranked full-text search in plain
Python from the chunks the catalog stored, read back from its parquet
files with DuckDB rather than through Spark: AND-match of the query
terms on the ``[^a-z0-9]+`` split of the lowercased content,
score = s/(s+1) where s sums the terms' occurrence counts, ordered by
(score desc, id asc).
"""

from __future__ import annotations

import glob
import math
import os
import re
import statistics
from collections import Counter

from vector_search_service_spark.functions.analysis import STOPWORDS_EN

_SPLIT = re.compile("[^a-z0-9]+")


def tokens(text: str) -> list[str]:
    return [t for t in _SPLIT.split(text.lower()) if t]


def query_terms(query: str) -> list[str]:
    """plainto_tsquery-style terms: stopwords dropped, each term once."""
    return list(dict.fromkeys(t for t in tokens(query) if t not in STOPWORDS_EN))


class Snapshot:
    """One collection's stored chunks with their term counts."""

    def __init__(self, rows: list[tuple[str, str, dict[str, str]]]):
        self.docs = [(doc_id, content, meta, Counter(tokens(content)))
                     for doc_id, content, meta in rows]

    @property
    def ids(self) -> list[str]:
        return sorted(d[0] for d in self.docs)

    def search(self, query: str, limit: int,
               metadata_filter: dict | None = None) -> list[tuple[str, float]]:
        terms = query_terms(query)
        if not terms:
            return []
        hits = []
        for doc_id, _content, meta, counts in self.docs:
            if metadata_filter and any(meta.get(k) != str(v)
                                       for k, v in metadata_filter.items()):
                continue
            if all(counts[t] for t in terms):
                s = float(sum(counts[t] for t in terms))
                hits.append((-(s / (s + 1.0)), doc_id))
        hits.sort()
        return [(doc_id, -neg) for neg, doc_id in hits[:max(1, min(limit, 100))]]

    def token_hits(self, token: str) -> int:
        return len(self.ids_with(token))

    def ids_with(self, token: str) -> list[str]:
        return [d[0] for d in self.docs if d[3][token]]


def read_store(catalog_root: str, collection_id: int) -> Snapshot:
    """Read a collection's live parquet files straight from disk."""
    import duckdb

    files = sorted(glob.glob(os.path.join(
        catalog_root, "documents", f"collection_id={collection_id}", "*.parquet")))
    if not files:
        return Snapshot([])
    con = duckdb.connect()
    try:
        con.execute("SET threads = 1")
        rows = con.execute(
            "SELECT document_id, content, map_entries(doc_metadata) "
            "FROM read_parquet(?)", [files]
        ).fetchall()
    finally:
        con.close()
    return Snapshot([(i, c, {e["key"]: e["value"] for e in m or []})
                     for i, c, m in rows])


def percentile(values: list[float], p: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(p / 100.0 * len(s)) - 1)]


def highest_percentile(n: int) -> float | None:
    """The highest of p99.9/p99/p90/p50 that has at least ten of ``n``
    samples beyond it, or None when even the median has fewer."""
    for p in (99.9, 99.0, 90.0, 50.0):
        if n * (100.0 - p) / 100.0 >= 10 - 1e-9:
            return p
    return None


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0
