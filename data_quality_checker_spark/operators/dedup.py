"""Exact duplicate detection — SHA-1 over the audio payload, salted
two-phase aggregation to beat key skew.

Reference semantics: pandas ``duplicated()`` keeps the first occurrence by
row order (src/core/validator.py:103,116; unique_check
src/core/validation_rules.py:176-193). Row order is meaningless in a
distributed table, so the deterministic equivalent is *keep the minimum
clip_id per SHA-1*.

Scale design (the north-star "salted repartition" pattern):
  A viral clip duplicated 10^6× makes one reducer hot. ``min()`` is
  partial-aggregatable, so we split the aggregation in two phases with an
  explicit salt — phase 1 reduces each hot key to at most ``salt_buckets``
  rows no matter how skewed it is, phase 2 is tiny:

      phase1 = clips.groupBy(sha, pmod(xxhash64(clip_id), S)).agg(min(clip_id))
      keepers = phase1.groupBy(sha).agg(min(clip_id))

  The join back (clips ⋈ keepers on sha) is probe-side-skewed only; the
  build side has unique keys, and AQE skew-join splitting handles the
  probe side (enabled in session.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..config import DEFAULT_CONFIG, PipelineConfig


def sha1_expr(payload_col: str = "bytes") -> Column:
    """SHA-1 hex digest of the payload; null for null payloads."""
    return F.sha1(F.col(payload_col))


def keeper_candidates(hashed: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Phase 1 of the salted keeper aggregation over (clip_id, sha) →
    (sha, _local_min): at most ``dedup_salt_buckets`` candidate rows per
    distinct SHA-1, however skewed the key."""
    salt = F.pmod(F.xxhash64(F.col("clip_id")), F.lit(cfg.dedup_salt_buckets))
    return (
        hashed.where(F.col("sha").isNotNull())
        .groupBy(F.col("sha"), salt.alias("_salt"))
        .agg(F.min("clip_id").alias("_local_min"))
    )


def keepers_by_sha(
    hashed: DataFrame, cfg: PipelineConfig = DEFAULT_CONFIG
) -> DataFrame:
    """(clip_id, sha) → (sha, keeper_clip_id): the minimum clip_id per
    distinct SHA-1, via salted two-phase aggregation."""
    phase1 = keeper_candidates(hashed, cfg)
    return phase1.groupBy("sha").agg(F.min("_local_min").alias("keeper_clip_id"))


def flag_duplicates(df: DataFrame, keepers: DataFrame) -> DataFrame:
    """Add ``is_duplicate`` against (sha, keeper_clip_id) keepers — true
    for every (clip_id, sha) row whose SHA-1 has a different keeper.
    Null-payload rows are never duplicates (they fail the missing-bytes
    rule instead)."""
    joined = df.join(keepers.select("sha", "keeper_clip_id"), on="sha", how="left")
    return joined.withColumn(
        "is_duplicate",
        F.when(
            F.col("sha").isNotNull() & (F.col("clip_id") != F.col("keeper_clip_id")),
            F.lit(True),
        ).otherwise(F.lit(False)),
    ).drop("keeper_clip_id")

