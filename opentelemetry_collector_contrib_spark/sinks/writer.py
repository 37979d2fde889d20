"""Sink writers (exporter analogues).

Reference: every contrib exporter is a format adapter + transport
(exporter/lokiexporter/exporter.go:123-187, splunkhecexporter/
logdata_to_splunk.go:41-95). In the Spark engine all sinks are table writes;
one generic writer covers the category (SURVEY.md section 2.8).

Scale design:
  - route fan-out is ONE write: ``write.partitionBy(route, day)`` after
    one hash shuffle on (route, day, salt) that bounds each (route, day) to
    ``files_per_partition`` files — a single scan of the input; per-sink
    directories fall out of the partitioning, mirroring
    batchperresourceattr's per-attribute batching.
  - writes are idempotent per (route, day) partition: dynamic partition
    overwrite replaces exactly the partitions being written, which is what
    makes checkpoint/resume exact (plans/checkpoint.py). This is the
    parquet-level equivalent of Iceberg's atomic per-partition commit; on a
    real cluster the same code path targets an Iceberg catalog.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def write_fanout(
    df: DataFrame,
    base_path: str,
    route_col: str = "route",
    day_col: str | None = "day",
    mode: str = "overwrite",
    files_per_partition: int = 1,
) -> None:
    """One-pass fan-out write, partitioned by sink (and day for pruning).

    Without clustering, every task writes a file into every (route, day)
    directory — tasks x partitions files (the classic small-file explosion;
    at cluster scale that is millions of files per job). One hash shuffle on
    the partition columns first means each (route, day) is written by
    exactly ``files_per_partition`` tasks; raise it when single partitions
    are too large for one task (e.g. hot routes at 100 TB).
    """
    parts = [route_col] + ([day_col] if day_col else [])
    if files_per_partition > 1:
        # salt MUST be a deterministic function of row content:
        # monotonically_increasing_id() changes under task retry /
        # recomputation, which would redistribute rows across files and
        # break the checkpoint/resume byte-identity guarantee
        # (plans/checkpoint.py)
        salt = F.pmod(
            F.xxhash64(*[F.col(c) for c in df.columns]),
            F.lit(files_per_partition),
        )
        clustered = df.repartition(*[F.col(c) for c in parts], salt)
    else:
        clustered = df.repartition(*[F.col(c) for c in parts])
    (
        clustered.write.mode(mode)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(*parts)
        .parquet(base_path)
    )


def read_sink(spark, base_path: str, sink: str, route_col: str = "route") -> DataFrame:
    """Read one sink's rows back (partition-pruned scan)."""
    return spark.read.parquet(base_path).filter(F.col(route_col) == sink)
