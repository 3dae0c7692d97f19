"""Hot-key detection and skew salting.

Reference parity: getl's only skew tool is manual thread "segmentation"
by file-mask variable (/root/reference/src/main/groovy/getl/proc/FileCopier.groovy,
``segmented``); here skew is handled three ways, layered:

1. AQE skew-join splitting (on by default in session.py) for the
   MERGE join;
2. salted writes: a table's ``write.salt`` property fans a hot storage
   bucket (zipf repo) out over that many write tasks so no single task
   owns the whole bucket;
3. this module's detector sizes the salt factor from an observed key
   histogram — the "decide salt factor from observed histogram" step
   SURVEY §4.2 calls out as genuinely custom.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salt_factor_from_counts(
    hot: int,
    total: int,
    num_partitions: int,
    skew_threshold: float = 2.0,
    max_salt: int = 16,
) -> int:
    """The sizing formula: salt so the hottest key's share ~ an average
    partition — ``hot_share * num_partitions / skew_threshold``,
    clamped to [1, max_salt]. 1 (no salting) for balanced data."""
    if not total:
        return 1
    factor = int(hot / total * num_partitions / skew_threshold)
    return max(1, min(factor, max_salt))


def detect_salt_factor(
    df: DataFrame,
    cols: list[str],
    num_partitions: int,
    sample_fraction: float = 0.05,
    skew_threshold: float = 2.0,
    max_salt: int = 16,
) -> int:
    """Salt factor from an observed key histogram (sampled)."""
    # ONE job: hottest-key count and sample total come out of the same
    # aggregation (the old version ran a second count() over the sample)
    s = df.sample(fraction=sample_fraction, seed=13) if sample_fraction < 1.0 else df
    stats = (
        s.groupBy(*cols)
        .count()
        .agg(F.max("count").alias("hot"), F.sum("count").alias("total"))
        .collect()[0]
    )
    if stats["total"] is None or int(stats["total"]) == 0:
        return 1
    return salt_factor_from_counts(
        int(stats["hot"]), int(stats["total"]), num_partitions, skew_threshold, max_salt
    )
