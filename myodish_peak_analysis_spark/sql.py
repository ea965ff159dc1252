"""SQL-facing surface: register the harness tables and the engine's
derived relations as temporary views, so the entire pipeline is
queryable from ``spark.sql`` with no Python beyond the registration
call.

Temp views are LAZY — Catalyst inlines them, so a ``WHERE channel_id =
3`` over the ``peaks`` view prunes and pushes down into the underlying
parquet scan exactly as the DataFrame route does (one plan, no
materialization). At 100 TB the views would be catalog tables over the
same DataFrames; nothing about the registration pattern changes.

Views registered:

* every harness table (``region`` … ``embeddings``) as-is;
* ``signal`` — the channelized signal frame (``schema.signal_frame``);
* ``signal_enriched`` — signal + smooth + envelopes + diastolic +
  extrema flags + threshold keep (the full per-row pipeline state);
* ``peaks`` — per-peak attributes (A1–A4, T3);
* ``peak_summary`` — per-channel NULL-skipping averages (G1).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from .api import PeakPipeline
from .operators.attributes import peak_attributes, peak_averages, with_crossings
from .operators.peaks import with_threshold_keep
from .schema import HARNESS_TABLES, auto_channels, read_table, signal_frame


def pipeline_frames(
    spark: SparkSession, sf_dir: str, n_channels: int | None = None
) -> dict[str, DataFrame]:
    """The engine's derived relations as (lazy) DataFrames."""
    if n_channels is None:
        n_channels = auto_channels(spark, sf_dir)
    sig = signal_frame(spark, sf_dir, n_channels=n_channels)
    enriched = PeakPipeline(sig).smooth().envelopes().diastolic().df
    enriched = with_threshold_keep(enriched, value_col="smooth")
    crossed = with_crossings(
        enriched.withColumn("_keep", F.col("is_peak") & F.col("keep_peak"))
    )
    peaks = peak_attributes(crossed, keep_col="_keep")
    return {
        "signal": sig,
        "signal_enriched": enriched,
        "peaks": peaks,
        "peak_summary": peak_averages(peaks),
    }


def register_views(
    spark: SparkSession, sf_dir: str, n_channels: int | None = None
) -> list[str]:
    """Register harness tables + derived pipeline views; returns the
    view names. After this, the whole engine is plain SQL::

        register_views(spark, sf_dir)
        spark.sql("SELECT channel_id, avg_force FROM peak_summary")
    """
    names = []
    for t in HARNESS_TABLES:
        read_table(spark, sf_dir, t).createOrReplaceTempView(t)
        names.append(t)
    for name, df in pipeline_frames(spark, sf_dir, n_channels).items():
        df.createOrReplaceTempView(name)
        names.append(name)
    return names
