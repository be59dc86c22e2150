"""Multimodal queries: binary-payload feature extraction, frame sampling,
and per-modality rollups — the image/audio/video surface of the
training-data pipeline (operators/multimodal.py holds the plumbing).

r22: feature extraction is fully native (guide §4.1) — the r21 mapInPandas
stage only computed length/md5/modulo expressions, so the Python boundary
was pure overhead; multimodal_features now runs entirely in whole-stage
codegen with hash-identical output (the oracle twin is unchanged).
media_type_stats proves native aggregation composes on top without
materializing payloads (payload is projected away in the feature select).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from holochatstats_spark.functions.core import round_half_up
from holochatstats_spark.operators.multimodal import (
    FEATURES_SQL,
    extract_features,
    synthesize_media,
)
from holochatstats_spark.queries import register
from holochatstats_spark.tables import load_table

FRAME_STEP = 4


def _features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return extract_features(
        synthesize_media(load_table(spark, sf_dir, "documents"))
    )


@register(
    "multimodal_features",
    oracle=f"""
    {FEATURES_SQL}
    ORDER BY doc_id
    """,
    survey="multimodal,F13-analog",
    tags=("bench",),
)
def multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _features(spark, sf_dir).orderBy("doc_id")


@register(
    "multimodal_frame_sample",
    oracle=f"""
    WITH feats AS ({FEATURES_SQL}),
    vids AS (
      SELECT doc_id, n_bytes, n_bytes // 1024 + 1 AS n_frames
      FROM feats WHERE media_type = 'video'
    )
    SELECT doc_id, CAST(n_frames AS BIGINT) AS n_frames,
           CAST(unnest(range(0, n_frames, {FRAME_STEP})) AS BIGINT) AS frame_idx
    FROM vids
    ORDER BY doc_id, frame_idx
    """,
    survey="multimodal,A12-analog",
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every FRAME_STEP-th frame of each 'video': frame count derives from
    payload size; the explode is native (sequence), no UDF — sampling
    composes downstream of the mapInPandas stage."""
    feats = _features(spark, sf_dir)
    vids = feats.where(F.col("media_type") == "video").select(
        "doc_id",
        (F.col("n_bytes") / 1024).cast("bigint").alias("nf_minus"),
    )
    vids = vids.select(
        "doc_id", (F.col("nf_minus") + 1).cast("bigint").alias("n_frames")
    )
    return (
        vids.select(
            "doc_id",
            "n_frames",
            F.explode(
                F.sequence(
                    F.lit(0).cast("bigint"),
                    F.col("n_frames") - 1,
                    F.lit(FRAME_STEP).cast("bigint"),
                )
            ).alias("frame_idx"),
        )
        .orderBy("doc_id", "frame_idx")
    )


@register(
    "media_type_stats",
    oracle=f"""
    WITH feats AS ({FEATURES_SQL})
    SELECT media_type,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
           FLOOR(COALESCE(AVG(duration_sec), 0) * 10000 + 0.5) / 10000 AS avg_duration
    FROM feats
    GROUP BY media_type
    ORDER BY media_type
    """,
    survey="multimodal,A2-analog",
)
def media_type_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _features(spark, sf_dir)
        .groupBy("media_type")
        .agg(
            F.count("*").cast("bigint").alias("n_items"),
            F.sum("n_bytes").cast("bigint").alias("total_bytes"),
            round_half_up(F.coalesce(F.avg("duration_sec"), F.lit(0.0)), 4).alias(
                "avg_duration"
            ),
        )
        .orderBy("media_type")
    )
