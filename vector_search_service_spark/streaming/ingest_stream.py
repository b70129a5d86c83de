"""Streaming ingestion (SURVEY.md §2.10 Q2's streaming-native
upgrade): documents arriving as a file stream run through the SAME
batch ingest (``ingest.ingest_into``) inside ``foreachBatch``, so a
streamed document stores exactly the rows — chunk metadata, extracted
stats and the ``source`` column — that batch ingest stores.

``foreachBatch`` is the right primitive here because the sink is our
partitioned-parquet catalog (no native streaming sink): each
micro-batch is a normal batch DataFrame, so the whole ingest lineage —
validate → id → preprocess → chunk → lexemes → append — is reused
verbatim; checkpointing makes the stream restartable and the
content-addressed chunk ids (G2) make replays idempotent at the data
level (same content → same ids)."""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql import types as T

from ..catalog import Catalog
from ..ingest import ingest_into

RAW_DOC_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), True),
    T.StructField("text", T.StringType(), True),
    T.StructField("source", T.StringType(), True),
])


def start_ingest_stream(spark: SparkSession, catalog: Catalog, *,
                        collection_name: str, input_dir: str,
                        checkpoint_dir: str,
                        max_files_per_trigger: int = 1):
    """Watch ``input_dir`` for parquet drops of raw documents and
    ingest them continuously. Returns the StreamingQuery (caller owns
    stop())."""
    stream = (
        spark.readStream.schema(RAW_DOC_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )

    def sink(batch_df, batch_id: int) -> None:
        ingest_into(catalog, collection_name, batch_df, metadata_cols=("source",))

    return (
        stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
