"""Single-pass pipeline observability: `df.observe` metrics riding
the SAME job as the write/aggregation they instrument.

The anti-pattern at 100 TB is the "count the corpus three times"
quality report (`df.count()`, `df.filter(bad).count()`, then the real
write — three full scans). Spark's Observation API attaches aggregate
metrics to the running plan: the accumulators are collected during
the action that was going to happen anyway, so the quality report is
FREE — zero extra scans, exact values, available the moment the job
finishes.

The reference logs coarse per-request stats in Python
(`src/api/documents.py` response models); this is the engine-side
equivalent wired into distributed jobs. Used standalone or on the
raw frame handed to `ingest.ingest_into`, whose staged checkpoint is
the action that fills the observation."""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def observed_quality(df: DataFrame, text_col: str = "text",
                     name: str = "quality") -> tuple[DataFrame, Observation]:
    """Attach corpus-quality metrics to `df`'s next action:
    row count, empty/whitespace docs, null texts, total characters,
    and short-doc count. Returns (instrumented df, observation) —
    read `obs.get` AFTER an action has run."""
    obs = Observation(name)
    text = F.col(text_col)
    out = df.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(text.isNull(), 1).otherwise(0)).alias("n_null_text"),
        F.sum(F.when(F.trim(text) == "", 1).otherwise(0)).alias("n_blank_text"),
        F.sum(F.when(F.length(text) < 20, 1).otherwise(0)).alias("n_short"),
        F.sum(F.coalesce(F.length(text), F.lit(0))).alias("total_chars"),
    )
    return out, obs


def observed_write(df: DataFrame, path: str, *, text_col: str = "text",
                   fmt: str = "parquet") -> dict:
    """Write `df` and return the quality metrics measured DURING that
    write — one job, one scan, metrics exact."""
    out, obs = observed_quality(df, text_col)
    out.write.mode("overwrite").format(fmt).save(path)
    return dict(obs.get)
