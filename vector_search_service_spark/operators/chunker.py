"""G3 — fixed-size overlapping chunking with word-boundary snapping.

The reference chunks documents *before* storage (one row per chunk,
``src/api/documents.py:159-199``) with the loop in
``src/core/document_processor.py:48-136``. The offsets and per-chunk
metadata are stored, so the algorithm below reproduces the observable
behavior exactly (verified by unit tests over the edge cases in
FIXTURES.md), including its quirks:

- overlap is clamped to ``chunk_size // 2`` (`:65`);
- when a window end lands mid-content, it snaps to just after the
  nearest whitespace/punct char at-or-before the end, scanning back at
  most 100 chars — note the scan *starts at* ``end`` itself, so a
  boundary char exactly at ``end`` extends the chunk by one char
  (`:126-136`);
- chunks are stripped and empty chunks dropped *without* consuming a
  chunk index (`:89-106`);
- iteration safety cap of 1000 windows, and a no-advance guard for
  pathological overlap/boundary combinations (`:71-76,118-121`).

Spark shape: the per-document loop is pure Python over one string —
inherently row-local, so it runs as an Arrow-batched pandas UDF
producing ``array<struct>``, exploded to chunk rows. Each document is
independent: the transform is embarrassingly parallel, no shuffle; at
100 TB the cost is one Python pass over each text partition
(~chunk-loop is O(len) per doc) with Arrow doing columnar transfer.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_CHUNK_SIZE = 1000   # DOCUMENT_CHUNK_SIZE, src/config/settings.py:49
DEFAULT_CHUNK_OVERLAP = 200  # DOCUMENT_CHUNK_OVERLAP, src/config/settings.py:50
_BOUNDARY_CHARS = set(" \n\t.,;:!?")
_MAX_WINDOWS = 1000


def snap_to_boundary(text: str, pos: int) -> int:
    """Scan back from ``pos`` (inclusive) up to 100 chars for a
    whitespace/punct char; return the index just after it, else ``pos``
    unchanged. Mirrors ``_find_word_boundary`` including the
    start-at-pos quirk."""
    lo = max(0, pos - 100)
    i = pos
    while i > lo:
        if text[i] in _BOUNDARY_CHARS:
            return i + 1
        i -= 1
    return pos


def chunk_text(content: str, chunk_size: int = DEFAULT_CHUNK_SIZE,
               overlap: int = DEFAULT_CHUNK_OVERLAP) -> list[dict]:
    """Split one document into overlapping chunk dicts
    (content/chunk_index/start_char/end_char/chunk_size/is_first_chunk/
    is_last_chunk)."""
    if not content or not content.strip():
        return []
    overlap = min(overlap, chunk_size // 2)
    n = len(content)
    out: list[dict] = []
    start = 0
    idx = 0
    for _ in range(_MAX_WINDOWS):
        end = min(start + chunk_size, n)
        if end < n:
            end = snap_to_boundary(content, end)
        piece = content[start:end].strip()
        if piece:
            out.append({
                "content": piece,
                "chunk_index": idx,
                "start_char": start,
                "end_char": end,
                "chunk_size": len(piece),
                "is_first_chunk": idx == 0,
                "is_last_chunk": end >= n,
            })
            idx += 1
        if end >= n:
            break
        nxt = end - overlap
        if nxt <= start:  # no forward progress — bail like the reference
            break
        start = nxt
    return out


CHUNK_STRUCT = T.StructType([
    T.StructField("content", T.StringType(), False),
    T.StructField("chunk_index", T.IntegerType(), False),
    T.StructField("start_char", T.IntegerType(), False),
    T.StructField("end_char", T.IntegerType(), False),
    T.StructField("chunk_size", T.IntegerType(), False),
    T.StructField("is_first_chunk", T.BooleanType(), False),
    T.StructField("is_last_chunk", T.BooleanType(), False),
])


def chunks_udf(chunk_size: int = DEFAULT_CHUNK_SIZE,
               overlap: int = DEFAULT_CHUNK_OVERLAP):
    @F.pandas_udf(T.ArrayType(CHUNK_STRUCT))
    def _chunks(texts: pd.Series) -> pd.Series:
        return texts.map(lambda t: chunk_text(t or "", chunk_size, overlap))
    # asNondeterministic: the explode over the UDF column makes the
    # optimizer push a `size(...) > 0` filter BELOW the Generate, and
    # that copy re-evaluates the UDF — two ArrowEvalPython nodes, every
    # document chunked twice (optimization-guide §4.4; measured ~2× the
    # Python-stage cost of chunker_windows at sf0.1). Chunking is pure;
    # the marker only forbids the optimizer from duplicating/reordering
    # the call. Plan pinned single-ArrowEvalPython in tests/test_plans.py.
    # SIDE-EFFECT (ADVICE r12 #3): the marker also blocks pushing any
    # OTHER filter past a projection containing this UDF — a selective
    # source filter (lang, partition column) written DOWNSTREAM of the
    # UDF projection no longer reaches the scan. Convention: apply
    # selective source filters BEFORE the UDF projection (every
    # registry consumer does; pinned by
    # tests/test_plans.py::test_filter_below_chunk_udf_reaches_scan).
    return _chunks.asNondeterministic()


def chunks_udf_per_row():
    """Per-document chunk parameters (batch ingest carries
    ``chunk_size``/``chunk_overlap`` per row): same ``chunk_text``
    core, sizes read from columns instead of closure constants."""
    @F.pandas_udf(T.ArrayType(CHUNK_STRUCT))
    def _chunks(texts: pd.Series, sizes: pd.Series, overlaps: pd.Series) -> pd.Series:
        return pd.Series([
            chunk_text(t or "", int(s), int(o))
            for t, s, o in zip(texts, sizes, overlaps)
        ], index=texts.index)
    _chunks = _chunks.asNondeterministic()  # same §4.4 fix as chunks_udf
    return _chunks


def chunk_arrays(df: DataFrame, text: Column, *,
                 chunk_size: int | Column = DEFAULT_CHUNK_SIZE,
                 overlap: int | Column = DEFAULT_CHUNK_OVERLAP) -> DataFrame:
    """The document-level half of :func:`chunk_documents`: adds the
    chunk array ``_chunks`` (the chunk UDF over ``text``; a NULL text
    chunks to ``[]``) and its per-document count ``total_chunks``
    (``src/api/documents.py:174-184``). ``chunk_size``/``overlap``
    accept Columns for per-row overrides."""
    if isinstance(chunk_size, Column) or isinstance(overlap, Column):
        size_col = chunk_size if isinstance(chunk_size, Column) else F.lit(chunk_size)
        over_col = overlap if isinstance(overlap, Column) else F.lit(overlap)
        chunks = chunks_udf_per_row()(text, size_col.cast("int"), over_col.cast("int"))
    else:
        chunks = chunks_udf(chunk_size, overlap)(text)
    return (
        df.withColumn("_chunks", chunks)
          .withColumn("total_chunks", F.size("_chunks"))
    )


def explode_chunks(df: DataFrame, *, text_col: str = "text",
                   id_col: str = "doc_id") -> DataFrame:
    """The row-level half of :func:`chunk_documents`: one row per
    element of ``_chunks``. Chunk id mirrors the reference's
    ``{doc_id}_chunk_{i}`` (``src/api/documents.py:187``); every other
    column of ``df`` except ``text_col`` rides along."""
    exploded = (
        df.withColumn("chunk", F.explode("_chunks"))
          .drop("_chunks", text_col)
    )
    return (
        exploded.select(
            F.col(id_col),
            F.concat(F.col(id_col).cast("string"), F.lit("_chunk_"),
                     F.col("chunk.chunk_index").cast("string")).alias("chunk_id"),
            F.col("chunk.content").alias("content"),
            F.col("chunk.chunk_index").alias("chunk_index"),
            F.col("chunk.start_char").alias("start_char"),
            F.col("chunk.end_char").alias("end_char"),
            F.col("chunk.chunk_size").alias("chunk_size"),
            F.col("chunk.is_first_chunk").alias("is_first_chunk"),
            F.col("chunk.is_last_chunk").alias("is_last_chunk"),
            F.col("total_chunks"),
            *[F.col(c) for c in df.columns
              if c not in (text_col, id_col, "_chunks", "total_chunks")],
        )
    )


def chunk_documents(df: DataFrame, *, text_col: str = "text",
                    id_col: str = "doc_id",
                    chunk_size: int | Column = DEFAULT_CHUNK_SIZE,
                    overlap: int | Column = DEFAULT_CHUNK_OVERLAP) -> DataFrame:
    """1 document row in → N chunk rows out (the UDTF shape:
    array-returning pandas UDF + explode): :func:`chunk_arrays` then
    :func:`explode_chunks`."""
    arrays = chunk_arrays(df, F.col(text_col), chunk_size=chunk_size, overlap=overlap)
    return explode_chunks(arrays, text_col=text_col, id_col=id_col)


def make_chunker_udtf(chunk_size: int = DEFAULT_CHUNK_SIZE,
                      overlap: int = DEFAULT_CHUNK_OVERLAP):
    """Native Python UDTF (Spark 4, §2.11): the chunker as a true
    table function — 1 row in, N rows out, no intermediate array
    column or explode. Same ``chunk_text`` core as the pandas-UDF
    path, so the two are parity-tested against each other; the
    pandas path remains the throughput choice (Arrow batches), the
    UDTF is the composable SQL surface (``LATERAL chunk(...)``)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType=(
        "chunk_index int, content string, start_char int, end_char int, "
        "chunk_size int, is_first_chunk boolean, is_last_chunk boolean"
    ))
    class _Chunker:
        def eval(self, text: str):
            for ch in chunk_text(text or "", chunk_size, overlap):
                yield (
                    ch["chunk_index"], ch["content"], ch["start_char"],
                    ch["end_char"], ch["chunk_size"],
                    ch["is_first_chunk"], ch["is_last_chunk"],
                )

    return _Chunker


def chunk_documents_sql(spark, df: DataFrame, *, text_col: str = "text",
                        id_col: str = "doc_id",
                        chunk_size: int = DEFAULT_CHUNK_SIZE,
                        overlap: int = DEFAULT_CHUNK_OVERLAP) -> DataFrame:
    """The UDTF surface end-to-end: register + LATERAL join in SQL.
    Returns the same logical result as :func:`chunk_documents`
    (modulo the derived chunk_id/total_chunks, which stay
    DataFrame-side)."""
    spark.udtf.register("chunk_udtf", make_chunker_udtf(chunk_size, overlap))
    df.createOrReplaceTempView("_docs_to_chunk")
    return spark.sql(
        f"SELECT d.{id_col}, c.* FROM _docs_to_chunk d, "
        f"LATERAL chunk_udtf(d.{text_col}) c"
    )
