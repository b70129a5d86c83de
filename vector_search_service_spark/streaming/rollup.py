"""Incremental materialized-rollup maintenance (the hypertable
"continuous aggregate" shape): an hourly per-event-type rollup table
kept up to date by a file stream, each micro-batch folded in via
MERGEABLE partial aggregates — never a recompute over history.

The algebra is the whole design: `count` and integer-micro `sum` are
commutative monoids, so

    rollup(history ∪ batch) == merge(rollup(history), rollup(batch))

and the maintenance cost per trigger is O(|batch| + |touched groups|),
independent of history size. Averages are DERIVED (sum/count) at read
time — storing them would break mergeability. This is the same
partial/final split Spark's own hash aggregate does map-side; here it
is made durable across triggers.

At 100 TB: the rollup table is tiny (groups, not events), so the merge
groupBy shuffles only (touched ∪ existing) group rows; the event
stream is aggregated map-side within each micro-batch. The versioned
swap write gives readers an always-live table (same mechanism as the
snapshot pointer of ``fts_index.PostingsStore``). With Delta in place
of parquet the swap becomes a MERGE on the same keys.

Proven in tests/test_rollup.py: replaying the events table through
N micro-batches yields byte-identical rollup rows to one batch
aggregation of the full table.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

KEYS = ("window_start", "event_type")
# value carried as exact integer micros (see decimal_exact_revenue)
_PARTIALS = ("n_events", "sum_value_micros")


def rollup_of(events: DataFrame) -> DataFrame:
    """The mergeable partial-aggregate form of the hourly rollup."""
    micros = F.round(F.col("value") * 1_000_000).cast("long")
    return (
        events.groupBy(
            F.date_trunc("hour", F.col("ts")).alias("window_start"),
            F.col("event_type"),
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(micros).alias("sum_value_micros"),
        )
    )


def merge_rollups(a: DataFrame, b: DataFrame) -> DataFrame:
    """Monoid merge of two partial-rollup tables."""
    return (
        a.unionByName(b)
        .groupBy(*KEYS)
        .agg(*[F.sum(c).alias(c) for c in _PARTIALS])
    )


def finalize(rollup: DataFrame) -> DataFrame:
    """Read-time view: derive the non-mergeable columns."""
    return rollup.select(
        F.unix_millis("window_start").alias("window_start_ms"),
        "event_type",
        "n_events",
        (F.col("sum_value_micros") / 1_000_000.0).alias("sum_value"),
        ((F.col("sum_value_micros") / F.col("n_events")) / 1_000_000.0)
        .alias("avg_value"),
    )


class RollupStore:
    """Versioned-parquet rollup table with an atomic pointer flip
    (readers always see a complete version; same write-safety story as
    the postings snapshots)."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark, self.root = spark, root
        os.makedirs(root, exist_ok=True)

    def _pointer(self) -> str:
        return os.path.join(self.root, "CURRENT")

    def _read_pointer(self) -> tuple[str, int] | None:
        ptr = self._pointer()
        if not os.path.exists(ptr):
            return None
        with open(ptr) as f:
            version, batch = f.read().strip().split("\n")
        return version, int(batch)

    def current(self) -> DataFrame | None:
        cur = self._read_pointer()
        if cur is None:
            return None
        return self.spark.read.parquet(os.path.join(self.root, cur[0]))

    def write_merged(self, batch_rollup: DataFrame, batch_id: int) -> None:
        """Monoid-merge one micro-batch. Exactly-once under replay:
        foreachBatch re-delivers the SAME content for the same
        batch_id, so a batch at or below the last applied id is a
        duplicate and is skipped — never merged twice."""
        cur = self._read_pointer()
        if cur is not None and batch_id <= cur[1]:
            return  # replayed batch already folded in
        prev = self.current()
        merged = batch_rollup if prev is None else merge_rollups(prev, batch_rollup)
        version = f"v{batch_id:010d}"
        merged.write.mode("overwrite").parquet(os.path.join(self.root, version))
        tmp = self._pointer() + ".tmp"
        with open(tmp, "w") as f:
            f.write(f"{version}\n{batch_id}")
        os.replace(tmp, self._pointer())  # atomic flip
        # prune superseded versions, keeping current + previous (an
        # in-flight reader that resolved the pointer just before the
        # flip still completes) — a long-running maintenance stream
        # would otherwise grow one full parquet copy per micro-batch
        keep = {version} | ({cur[0]} if cur is not None else set())
        for entry in os.listdir(self.root):
            full = os.path.join(self.root, entry)
            if (entry not in keep and os.path.isdir(full)
                    and entry.startswith("v") and entry[1:].isdigit()):
                shutil.rmtree(full, ignore_errors=True)


def start_rollup_maintenance(spark: SparkSession, events_stream: DataFrame,
                             store: RollupStore, *, checkpoint_dir: str):
    """foreachBatch maintenance: aggregate the micro-batch, monoid-
    merge into the store. Restart-safe: the checkpoint replays the
    last uncommitted batch with the SAME batch_id and the store's
    applied-batch watermark makes the merge idempotent — together,
    exactly-once."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        store.write_merged(rollup_of(batch_df), batch_id)

    return (
        events_stream.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
