"""Streaming ingestion into the catalog (Q2 streaming-native) and the
upsert/merge path."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F


@pytest.fixture()
def catalog(spark, tmp_path):
    from vector_search_service_spark.catalog import Catalog

    return Catalog(spark, str(tmp_path / "store"))


def test_streaming_ingest(spark, tmp_path, catalog):
    from vector_search_service_spark.streaming.ingest_stream import start_ingest_stream

    catalog.create_collection("live")
    inbox = tmp_path / "inbox"
    inbox.mkdir()
    # two file drops = two micro-batches
    spark.createDataFrame(
        [(1, "alpha beta gamma " * 10, "s1")], "doc_id long, text string, source string"
    ).coalesce(1).write.mode("append").parquet(str(inbox))
    spark.createDataFrame(
        [(2, "delta epsilon zeta " * 10, "s2")], "doc_id long, text string, source string"
    ).coalesce(1).write.mode("append").parquet(str(inbox))

    q = start_ingest_stream(
        spark, catalog, collection_name="live",
        input_dir=str(inbox), checkpoint_dir=str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    stored = catalog.documents("live")
    assert stored.count() >= 2
    from vector_search_service_spark.operators.search import fts_search

    assert fts_search(stored, "delta epsilon", text_col="content",
                      id_col="document_id").count() >= 1


def test_stream_stores_same_rows_as_batch_ingest(spark, tmp_path, catalog):
    """The stream sink is ``ingest_into``: a streamed document stores
    the same rows as the same input through batch ingest, metadata
    included, so ``metadata_filter`` finds streamed documents."""
    from vector_search_service_spark.ingest import ingest_into
    from vector_search_service_spark.service import SearchService
    from vector_search_service_spark.streaming.ingest_stream import start_ingest_stream

    catalog.create_collection("streamed")
    catalog.create_collection("batched")
    raw = spark.createDataFrame(
        [(1, "alpha beta gamma " * 10, "s1"), (2, "delta epsilon zeta " * 10, "s2")],
        "doc_id long, text string, source string",
    )
    inbox = tmp_path / "inbox"
    raw.coalesce(1).write.parquet(str(inbox))
    q = start_ingest_stream(
        spark, catalog, collection_name="streamed",
        input_dir=str(inbox), checkpoint_dir=str(tmp_path / "ckpt"),
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    ingest_into(catalog, "batched", raw, metadata_cols=("source",))

    def stored(name):
        return sorted(
            (r["document_id"], r["content"], sorted(r["doc_metadata"].items()),
             r["content_lexemes"])
            for r in catalog.documents(name).collect()
        )

    assert len(stored("streamed")) == 2
    assert stored("streamed") == stored("batched")
    svc = SearchService(spark, catalog.root)
    hits = svc.similarity_search("alpha beta", collection_id="streamed",
                                 metadata_filter={"source": "s1"})
    assert hits["total_found"] == 1


def test_upsert_documents(spark, catalog):
    catalog.create_collection("ups")

    def rows(content_by_id: dict[str, str]):
        return spark.createDataFrame(
            [(k, v, {}, None, None) for k, v in content_by_id.items()],
            "document_id string, content string, doc_metadata map<string,string>, "
            "content_lexemes array<string>, embedding array<float>",
        )

    catalog.add_documents("ups", rows({"a": "one", "b": "two"}))
    res = catalog.upsert_documents("ups", rows({"b": "two-v2", "c": "three"}))
    assert res == {"inserted": 1, "updated": 1}
    stored = {
        r["document_id"]: r["content"]
        for r in catalog.documents("ups").collect()
    }
    assert stored == {"a": "one", "b": "two-v2", "c": "three"}
