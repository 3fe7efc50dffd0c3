"""Training-dataset parquet export — the sink a 100 TB pipeline feeds.

The reference's sink is a single SQLite file (fine for its MB-scale
output); a training pipeline's output is a parquet DATASET: partitioned
for pruning, size-bounded files for balanced downstream reads, optionally
sorted within partitions for locality. All knobs here are the ones that
matter at scale:

- partition_by: hive-style partition columns (prune at read time)
- target_file_rows: maxRecordsPerFile — bounds file size so downstream
  readers get even splits (one giant file = one giant task)
- sort_within_by: sortWithinPartitions before write — row-group locality
  for range predicates on the sort key (min/max stats prune row groups)
- compression: zstd default (better ratio than snappy at similar speed)
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_dataset(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    target_file_rows: int | None = None,
    sort_within_by: list[str] | None = None,
    compression: str = "zstd",
    mode: str = "overwrite",
) -> None:
    out = df
    if sort_within_by:
        out = out.sortWithinPartitions(*sort_within_by)
    writer = out.write.mode(mode).option("compression", compression)
    if target_file_rows is not None:
        writer = writer.option("maxRecordsPerFile", target_file_rows)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)
