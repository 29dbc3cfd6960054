"""Run manifest + checkpointing for resumable linkage runs.

The reference writes everything once at run end (spine at
/root/reference/src/runlinkage.jl:86-88, buffered links/events spills at
:179-203) and cannot resume. At 10^12-turn scale a run *must* be
resumable mid-criteria, so after every table stage we persist the spine
and accumulated links (Iceberg ``writeTo`` in production; parquet paths
in the sandbox) plus a JSON manifest entry carrying per-stage AND
per-partition lineage: row counts, per-criteria match counts, partition
counts, per-partition row counts with a skew ratio, and purged-block
audit numbers. Resume = read the manifest, load the last completed
stage's tables, skip completed stages.
"""

from __future__ import annotations

import json
from dataclasses import asdict, dataclass, field
from pathlib import Path
from typing import Any

from pyspark.sql import DataFrame, SparkSession

MANIFEST = "manifest.json"


@dataclass
class StageRecord:
    stage: int
    table: str
    spine_path: str
    links_path: str
    n_spine: int
    n_links: int
    links_by_criteria: dict[str, int] = field(default_factory=dict)
    n_partitions_spine: int = 0
    n_partitions_links: int = 0
    purged_blocks: int = 0
    #: rows per partition of the links frame at checkpoint time (keyed
    #: by partition id) — the per-partition lineage that makes skew
    #: visible in the manifest instead of only in the Spark UI
    partition_rows_links: dict[str, int] = field(default_factory=dict)
    #: max/mean of partition_rows_links — >3 means the next stage
    #: inherits a hot partition and salting should be revisited
    links_skew_ratio: float = 0.0


class RunManifest:
    """Append-only stage log stored as JSON next to the checkpoints."""

    def __init__(self, checkpoint_dir: str) -> None:
        self.dir = Path(checkpoint_dir)
        self.dir.mkdir(parents=True, exist_ok=True)
        self.path = self.dir / MANIFEST
        self.stages: list[StageRecord] = []
        if self.path.exists():
            raw = json.loads(self.path.read_text())
            self.stages = [StageRecord(**s) for s in raw.get("stages", [])]

    def completed(self, stage: int) -> StageRecord | None:
        for s in self.stages:
            if s.stage == stage:
                return s
        return None

    def record(self, rec: StageRecord) -> None:
        self.stages = [s for s in self.stages if s.stage != rec.stage] + [rec]
        self.stages.sort(key=lambda s: s.stage)
        self._flush()

    def _flush(self) -> None:
        tmp = self.path.with_suffix(".tmp")
        tmp.write_text(json.dumps({"stages": [asdict(s) for s in self.stages]}, indent=2))
        tmp.replace(self.path)  # atomic: a crash never corrupts the manifest

    def last_stage(self) -> StageRecord | None:
        return self.stages[-1] if self.stages else None


def write_table(df: DataFrame, path: str) -> None:
    """Checkpoint sink. ``iceberg:`` prefixed targets use the Iceberg
    catalog writer (``writeTo(...).createOrReplace()``); plain paths use
    overwrite-mode parquet. Both are atomic-enough for resume: the
    manifest entry is only written after the sink commits."""
    if path.startswith("iceberg:"):
        df.writeTo(path[len("iceberg:") :]).createOrReplace()
    else:
        df.write.mode("overwrite").parquet(path)


def read_table(spark: SparkSession, path: str) -> DataFrame:
    if path.startswith("iceberg:"):
        return spark.read.format("iceberg").load(path[len("iceberg:") :])
    return spark.read.parquet(path)


def stage_metrics(spine: DataFrame, links: DataFrame) -> dict[str, Any]:
    """Per-stage lineage metrics recorded in the manifest (consumed by
    run_linkage after each checkpoint commit)."""
    from pyspark.sql import functions as F

    # one aggregation yields both per-criteria and per-partition counts:
    # rows per physical partition at checkpoint time (= the files just
    # written, one per partition) split by CriteriaId. spark_partition_id
    # is evaluated before the exchange, in the links' own partitions.
    by_crit: dict[str, int] = {}
    part_rows: dict[str, int] = {}
    for r in (
        links.groupBy(F.spark_partition_id().alias("pid"), "CriteriaId")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ):
        crit, pid, n = str(r["CriteriaId"]), str(r["pid"]), int(r["n"])
        by_crit[crit] = by_crit.get(crit, 0) + n
        part_rows[pid] = part_rows.get(pid, 0) + n
    n_links = sum(part_rows.values())
    mean = n_links / len(part_rows) if part_rows else 0.0
    skew = (max(part_rows.values()) / mean) if mean else 0.0
    return {
        "n_spine": spine.count(),
        "n_links": n_links,
        "links_by_criteria": by_crit,
        "n_partitions_spine": spine.rdd.getNumPartitions(),
        "n_partitions_links": links.rdd.getNumPartitions(),
        "partition_rows_links": part_rows,
        "links_skew_ratio": round(skew, 3),
    }
