"""Training-dataset parquet export — the sink a 100 TB pipeline feeds.

The reference's sink is a single SQLite file (fine for its MB-scale
output); a training pipeline's output is a parquet DATASET: partitioned
for pruning, optionally sorted within partitions for locality. The two
knobs:

- partition_by: hive-style partition columns (prune at read time)
- sort_within_by: sortWithinPartitions before write — row-group locality
  for range predicates on the sort key (min/max stats prune row groups).
  The sort leads with the partition columns: a partitioned write needs its
  rows ordered by them, and Spark re-sorts by them alone (losing the
  sort key's order) when the plan is not.

The dataset is always written zstd-compressed (better ratio than snappy at
similar speed) and replaces whatever was at the path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_dataset(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    sort_within_by: list[str] | None = None,
) -> None:
    out = df
    if sort_within_by:
        out = out.sortWithinPartitions(*(partition_by or []), *sort_within_by)
    writer = out.write.mode("overwrite").option("compression", "zstd")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
