"""Seeded inputs: the document corpus and each workload's op sequence.

Pure Python and free of Spark, so the same seed yields the same corpus
and the same ops on any host. The program under test only ever sees
the generated documents and requests.
"""

from __future__ import annotations

import random
from collections.abc import Iterator

# The word list of the sf0.1 ``documents`` table: ~30 words drawn
# near-uniformly, 8-100 words per document, so any 1-3 query terms
# match a large share of the corpus and search cost is scan work.
VOCAB = (
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch",
)
# "the" and "a" are stopwords: a query made of them analyzes to no terms
QUERY_VOCAB = tuple(w for w in VOCAB if w not in ("the", "a"))
LANGS = ("en", "zh", "de", "fr", "es")
LANG_WEIGHTS = (41, 15, 14, 15, 15)
N_SOURCES = 20
# every search block covers each (terms, limit) cell once, and the same
# two cells carry a metadata_filter (~20% of searches), so two seeds
# differ in which words are asked for, never in how hard the mix is:
# cost grows with the term count and a filter cuts it to about half,
# so a seed-chosen filter placement would move the median
SEARCH_CELLS = tuple((n, lim) for n in (1, 2, 3) for lim in (10, 50, 100))
FILTERED_CELLS = ((1, 50), (3, 50))
BATCH_DOCS = 50  # the service's max_batch_documents


def _text(rng: random.Random, extra: str = "") -> str:
    words = [rng.choice(VOCAB) for _ in range(rng.randint(8, 100))]
    if extra:
        words.insert(rng.randrange(len(words) + 1), extra)
    return " ".join(words)


def corpus(seed: int, n: int) -> list[dict]:
    """``n`` distinct sf0.1-like documents: text, lang, source."""
    rng = random.Random(f"corpus:{seed}")
    seen: set[str] = set()
    rows = []
    while len(rows) < n:
        text = _text(rng)
        if text in seen:
            continue
        seen.add(text)
        rows.append({
            "text": text,
            "lang": rng.choices(LANGS, LANG_WEIGHTS)[0],
            "source": f"src{len(rows) % N_SOURCES}",
        })
    return rows


def _search(rng: random.Random, n_terms: int, limit: int, filtered: bool) -> dict:
    return {
        "kind": "search",
        "query": " ".join(rng.sample(QUERY_VOCAB, n_terms)),
        "limit": limit,
        "filter": {"source": f"src{rng.randrange(N_SOURCES)}"} if filtered else None,
    }


def _search_block(rng: random.Random) -> list[dict]:
    cells = list(SEARCH_CELLS)
    rng.shuffle(cells)
    return [_search(rng, n, lim, (n, lim) in FILTERED_CELLS) for n, lim in cells]


def read_blocks(seed: int) -> Iterator[list[dict]]:
    """serve_read: endless blocks of 9 searches plus one metadata read
    (stats, a keyset page of list_documents, or collection info)."""
    rng = random.Random(f"serve_read:{seed}")
    metas = ("stats", "list", "info")
    for b in range(10**9):
        block = _search_block(rng)
        meta = {"kind": "meta", "what": metas[b % len(metas)]}
        if meta["what"] == "list":
            meta["after"] = f"{rng.getrandbits(64):016x}"
        block.insert(rng.randrange(len(block) + 1), meta)
        yield block


def _doc(rng: random.Random, token: str) -> dict:
    return {"content": _text(rng, token), "token": token,
            "metadata": {"source": f"src{rng.randrange(N_SOURCES)}"}}


def _batch(rng: random.Random, prefix: str, mode: str) -> dict:
    docs = [_doc(rng, f"{prefix}x{j}") for j in range(BATCH_DOCS)]
    return {"kind": "batch", "mode": mode, "docs": docs}


def read_tails(seed: int) -> Iterator[list[dict]]:
    """serve_read's write rounds, run after the search phase on the
    large collection: a single ingest, a sync batch, and the delete of
    the single-ingested document."""
    rng = random.Random(f"serve_read_tail:{seed}")
    for i in range(10**9):
        single = _doc(rng, f"r{seed}d{i}")
        yield [{"kind": "ingest_doc", **single}, _batch(rng, f"r{seed}b{i}", "sync"),
               {"kind": "delete", "token": single["token"]}]


def write_cycles(seed: int) -> Iterator[list[dict]]:
    """serve_write: endless cycles of write-then-read-your-write.

    Cycle ``i`` ingests one document with a unique token and probes
    for it, ingests a 50-document batch (every second one async) and
    probes one of its tokens, deletes the single document and probes
    that it is gone, then runs one ranked search checked against the
    reference."""
    rng = random.Random(f"serve_write:{seed}")
    cells = list(SEARCH_CELLS)
    for i in range(10**9):
        token = f"w{seed}d{i}"
        batch = _batch(rng, f"w{seed}b{i}", "async" if i % 2 else "sync")
        n_terms, limit = cells[i % len(cells)]
        yield [
            {"kind": "ingest_doc", **_doc(rng, token)},
            {"kind": "probe", "token": token, "expect": True},
            batch,
            {"kind": "probe", "token": rng.choice(batch["docs"])["token"], "expect": True},
            {"kind": "delete", "token": token},
            {"kind": "probe", "token": token, "expect": False},
            _search(rng, n_terms, limit, (n_terms, limit) in FILTERED_CELLS),
        ]
