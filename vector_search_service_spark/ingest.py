"""End-to-end ingestion pipeline (SURVEY.md §3.2).

One declarative lineage per batch — the reference's per-document
sequential loop (validate → id → preprocess → extract → chunk → insert,
``src/api/documents.py:85-224``) becomes a single DataFrame plan over
N documents at once: every stage is a column expression or the chunk
UDF, and the write is one distributed append. Per-document error
isolation (``src/api/documents.py:465-472``) becomes a status column
on a document-level staged frame — no row can kill the batch, same
contract, no driver loop.

The staged frame (:func:`_stage_documents`) holds every input row,
valid or rejected, with its validation error, id, extracted columns
and chunk array. :func:`ingest_into` materializes it once and reads
both the appended chunk rows and the per-document outcomes from that
materialization, so the input and the chunker run once per call.
It is the one ingest path: the service, batch jobs and the streaming
sink (``streaming/ingest_stream.py``) all call it, so every document
is stored with the same rows and metadata.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .catalog import Catalog
from .functions.analysis import tokens_col
from .functions.text import (
    content_type_col,
    doc_id_col,
    preprocess_col,
    title_col,
    validation_error_col,
)
from .operators.chunker import (
    DEFAULT_CHUNK_OVERLAP,
    DEFAULT_CHUNK_SIZE,
    chunk_arrays,
    explode_chunks,
)


def _valid() -> Column:
    return F.col("_validation_error").isNull()


def _stage_documents(raw: DataFrame, *, text_col: str = "text",
                     chunk_size: int | Column = DEFAULT_CHUNK_SIZE,
                     overlap: int | Column = DEFAULT_CHUNK_OVERLAP,
                     metadata_cols: tuple[str, ...] = ()) -> DataFrame:
    """The document-level staged frame: every input row, valid or
    rejected, with ``_validation_error`` (P10; NULL when valid), the
    content-addressed ``document_id`` (G2), the extracted columns
    (A5/G4/G5), the chunk array ``_chunks`` (G3) and ``total_chunks``.
    Only valid rows are processed: a rejected row keeps its input
    columns as they are, has a NULL ``document_id`` and passes a NULL
    text to the chunker, so it chunks to ``[]``."""
    flagged = raw.withColumn("_validation_error", validation_error_col(F.col(text_col)))
    text = F.when(_valid(), F.col(text_col))
    meta = {k: F.col(k) for k in metadata_cols if k in raw.columns}
    clean = F.col("_clean")
    # user-supplied title wins over the extracted one (G6 merge order:
    # extracted stats first, user metadata over them —
    # src/api/documents.py:174-184)
    title_expr = (
        F.coalesce(F.col("title"), title_col(clean))
        if "title" in meta else title_col(clean)
    )
    if "title" in raw.columns:
        title_expr = F.when(_valid(), title_expr).otherwise(F.col("title"))
    staged = (
        flagged.withColumn("document_id", doc_id_col(text, meta))
               .withColumn("_clean", preprocess_col(text))
               .withColumn("title", title_expr)
               .withColumn("content_length", F.length(clean).cast("long"))
               .withColumn("word_count", F.size(F.filter(F.split(clean, r"\s+"), lambda x: x != "")).cast("long"))
               .withColumn("line_count", (F.length(clean) - F.length(F.regexp_replace(clean, r"\n", "")) + 1).cast("long"))
               .withColumn("content_type", content_type_col(clean))
    )
    return chunk_arrays(staged, clean, chunk_size=chunk_size, overlap=overlap).drop("_clean")


def ingest_into(catalog: Catalog, collection_name: str, raw: DataFrame, *,
                text_col: str = "text",
                metadata_cols: tuple[str, ...] = (),
                chunk_size: int | Column = DEFAULT_CHUNK_SIZE,
                overlap: int | Column = DEFAULT_CHUNK_OVERLAP,
                idx_col: str | None = None) -> dict:
    """3.2 write path: pipeline + one append; returns the real chunk
    count (the reference's ``chunks_created`` always reports 1 — a bug
    consciously not carried over, SURVEY.md §3.2 step 11).

    The staged frame is materialized once (``localCheckpoint``): the
    chunk rows handed to ``Catalog.add_documents`` and the outcomes
    below are both read from it, so the input and the chunk UDF are
    evaluated exactly once per call — the invariant ``add_documents``
    keeps for its own input.

    With ``idx_col`` (a caller-supplied per-document key column), the
    result also carries ``documents``: one dict per input row, in input
    order, with the content-addressed ``document_id`` (G2 — computed IN
    the plan, never re-read from storage), ``chunks_created`` and the
    validation ``error`` if any, all from one collect of the
    materialized frame. This is how batch ingest gets per-document
    outcomes from a single distributed write instead of a driver loop.
    ``chunk_size``/``overlap`` accept a Column for per-document
    overrides."""
    staged = _stage_documents(
        raw, text_col=text_col, chunk_size=chunk_size,
        overlap=overlap, metadata_cols=metadata_cols,
    ).drop(text_col).localCheckpoint()  # raw text is not read past the chunker
    # one row per chunk of the valid documents, with the stored lexeme
    # column (F3)
    chunks = explode_chunks(
        staged.filter(_valid()).drop("_validation_error"),
        text_col=text_col, id_col="document_id",
    ).withColumn("content_lexemes", tokens_col(F.col("content")))
    meta_entries = [
        (F.lit("chunk_index"), F.col("chunk_index").cast("string")),
        (F.lit("start_char"), F.col("start_char").cast("string")),
        (F.lit("end_char"), F.col("end_char").cast("string")),
        (F.lit("chunk_size"), F.col("chunk_size").cast("string")),
        (F.lit("is_first_chunk"), F.col("is_first_chunk").cast("string")),
        (F.lit("is_last_chunk"), F.col("is_last_chunk").cast("string")),
        (F.lit("total_chunks"), F.col("total_chunks").cast("string")),
        (F.lit("content_type"), F.col("content_type")),
        (F.lit("document_id"), F.col("document_id")),
        # extracted stats (src/api/documents.py:174-184) + user
        # metadata — persisted so metadata_filter can see them;
        # map_filter below drops absent (null) values per row
        (F.lit("content_length"), F.col("content_length").cast("string")),
        (F.lit("word_count"), F.col("word_count").cast("string")),
        (F.lit("line_count"), F.col("line_count").cast("string")),
        (F.lit("title"), F.col("title")),
    ] + [
        (F.lit(c), F.col(c).cast("string"))
        for c in metadata_cols if c in raw.columns and c != "title"
    ]
    doc_meta = F.map_filter(
        F.map_from_arrays(
            F.array(*[k for k, _ in meta_entries]),
            F.array(*[v for _, v in meta_entries]),
        ),
        lambda _k, v: v.isNotNull(),
    )
    rows = chunks.select(
        F.col("chunk_id").alias("document_id"),
        F.col("content"),
        doc_meta.alias("doc_metadata"),
        F.col("content_lexemes"),
        F.lit(None).cast("array<float>").alias("embedding"),
    )
    n_chunks = catalog.add_documents(collection_name, rows)
    out = {"chunks_created": n_chunks}
    if idx_col is None:
        out["documents_rejected"] = staged.filter(~_valid()).count()
        return out
    outcomes = staged.select(idx_col, "document_id", "total_chunks",
                             "_validation_error").collect()
    docs = []
    for r in outcomes:
        n, err = r["total_chunks"], r["_validation_error"]
        if err is None and n == 0:
            err = "Document produced no chunks"
        docs.append({
            "idx": r[idx_col], "document_id": r["document_id"] if n else None,
            "chunks_created": n, "error": err,
        })
    out["documents_rejected"] = sum(r["_validation_error"] is not None for r in outcomes)
    out["documents"] = docs
    return out
