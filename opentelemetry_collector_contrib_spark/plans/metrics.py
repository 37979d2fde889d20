"""Collector-style pipeline metrics (obsreport analogue).

Reference contract (SURVEY.md section 2.9):
  - receiver obsreport accepted/refused counts
    (receiver/splunkhecreceiver/receiver.go:206,285)
  - processor metrics: num_grouped_logs / num_non_grouped_logs
    (processor/groupbyattrsprocessor/metrics.go:24-29)
  - exporter dropped counts (exporter/lokiexporter/exporter.go:123-136)

Spark design: counts are computed FROM THE SAME TAGGED PLAN that routes the
rows (one scan, codegen'd conditional sums), not from separate ``count()``
actions — at 100 TB a second scan per counter would double I/O. The
counts arrive on the driver through an ``Observation``, so the run report
(``write_report``: the ``(stage, name, value)`` rows plus the conservation
check ``accepted == refused + dropped + sum(routed per sink)``) is one JSON
file written by the driver, like obsreport's in-process counters; writing
it runs no Spark job.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .checkpoint import write_json_atomic


@dataclass
class PipelineMetrics:
    """Accumulated per-run metrics; one row per (stage, name)."""

    rows: dict[tuple[str, str], int] = field(default_factory=dict)

    def add(self, stage: str, name: str, value: int) -> None:
        self.rows[(stage, name)] = self.rows.get((stage, name), 0) + int(value)

    def get(self, stage: str, name: str) -> int:
        return self.rows.get((stage, name), 0)

    def conservation_ok(self) -> bool:
        """accepted == refused + dropped + sum(per-sink routed)."""
        accepted = self.get("receiver", "accepted")
        refused = self.get("receiver", "refused")
        dropped = self.get("exporter", "dropped")
        routed = sum(
            v for (s, n), v in self.rows.items() if s == "exporter" and n.startswith("routed_")
        )
        return accepted == refused + dropped + routed


def routed_counts(tagged: DataFrame, route_col: str = "route") -> DataFrame:
    """Per-sink routed row counts from the tagged plan (single pass)."""
    return tagged.groupBy(route_col).agg(F.count(F.lit(1)).alias("rows"))


def write_report(path: str, pm: PipelineMetrics, **fields) -> None:
    """Write the run report to ``path`` atomically: the ``(stage, name,
    value)`` rows of ``pm``, its conservation result, and the run's own
    ``fields`` (wall seconds; days or epoch)."""
    write_json_atomic(path, {
        **fields,
        "metrics": [[s, n, v] for (s, n), v in sorted(pm.rows.items())],
        "conservation_ok": pm.conservation_ok(),
    })
