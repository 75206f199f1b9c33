"""Checkpointed stage store with lineage records and resume.

Every pipeline stage lands in a snapshot directory (parquet here; the same
call-sites become ``df.writeTo(table).append()`` against an Iceberg catalog on
a real cluster — this container has no Iceberg runtime jar, so the store
abstracts the sink). A lineage record per stage captures rows, wall time, and
per-file (≈ per-partition) sizes; ``run_stage`` skips any stage whose snapshot
is already committed (``_SUCCESS``), which is the resume contract of the
north_rule: kill the job after stage N, rerun, stages 1..N are read back, not
recomputed (tested in tests/test_pipeline_e2e.py).

Row counts are collected with ``DataFrame.observe`` — piggybacked on the write
job itself, zero extra scans.
"""

from __future__ import annotations

import json
import time
from pathlib import Path
from typing import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql import Observation


class StageStore:
    def __init__(self, spark: SparkSession, base_dir: str):
        self.spark = spark
        self.base = Path(base_dir)
        self.base.mkdir(parents=True, exist_ok=True)
        self.lineage_path = self.base / "_lineage.jsonl"

    # ------------------------------------------------------------------
    def _stage_dir(self, name: str) -> Path:
        return self.base / name

    def is_committed(self, name: str) -> bool:
        return (self._stage_dir(name) / "_SUCCESS").exists()

    def read(self, name: str) -> DataFrame:
        return self.spark.read.parquet(str(self._stage_dir(name)))

    def _record(self, entry: dict) -> None:
        with self.lineage_path.open("a", encoding="utf-8") as fh:
            fh.write(json.dumps(entry) + "\n")

    def lineage(self) -> list[dict]:
        if not self.lineage_path.exists():
            return []
        return [json.loads(line) for line in self.lineage_path.read_text().splitlines() if line]

    # ------------------------------------------------------------------
    def write(self, df: DataFrame, name: str) -> DataFrame:
        """Write a stage snapshot + lineage record; return the re-read frame
        (reading back truncates lineage like a checkpoint and lets AQE size
        downstream stages from real file statistics)."""
        out = self._stage_dir(name)
        obs = Observation(f"lineage_{name}")
        observed = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        start = time.monotonic()
        observed.write.mode("overwrite").parquet(str(out))
        wall_ms = int((time.monotonic() - start) * 1000)
        files = [
            {"file": p.name, "bytes": p.stat().st_size}
            for p in sorted(out.rglob("*.parquet"))
        ]
        self._record(
            {
                "stage": name,
                "rows": int(obs.get["rows"]),
                "wall_ms": wall_ms,
                "n_files": len(files),
                "bytes": sum(f["bytes"] for f in files),
                "files": files[:200],
                "committed_at": time.time(),
            }
        )
        return self.read(name)

    def run_stage(self, name: str, build: Callable[[], DataFrame]) -> DataFrame:
        """Resume-aware stage execution: committed snapshots are read back."""
        if self.is_committed(name):
            self._record({"stage": name, "resumed": True, "committed_at": time.time()})
            return self.read(name)
        return self.write(build(), name)
