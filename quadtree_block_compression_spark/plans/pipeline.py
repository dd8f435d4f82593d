"""Checkpoint-resumable staged pipeline (north_rule).

The reference is a one-shot process; at 10^12 images a run must survive
preemption. Model (SURVEY.md §2.9): each stage writes its output parquet +
a manifest entry (stage name, row count, wall time, input fingerprint);
``run_stage`` skips any stage whose manifest entry is complete and whose
fingerprint matches — resume is "read the last complete stage", exactly the
``_SUCCESS``-style barrier pattern. A rerun stage overwrites its own lineage
directory, so a crash before the manifest save never duplicates lineage.
"""

from __future__ import annotations

import json
import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from .lineage import partition_lineage

MANIFEST = "manifest.json"
LINEAGE = "_lineage"


class StagedPipeline:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)
        self._manifest_path = os.path.join(root, MANIFEST)
        self.manifest: dict = {}
        if os.path.exists(self._manifest_path):
            with open(self._manifest_path) as f:
                self.manifest = json.load(f)

    def _save(self) -> None:
        tmp = self._manifest_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.manifest, f, indent=1, sort_keys=True)
        os.replace(tmp, self._manifest_path)

    def stage_path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def run_stage(self, name: str, build: Callable[[], DataFrame],
                  fingerprint: str = "", partitions: int | None = None,
                  lineage_weigh_col: str | None = None) -> DataFrame:
        """Run (or resume) one stage. ``build`` returns the stage DataFrame;
        its output is persisted to parquet and re-read, so downstream plans
        start from a scan (bounded lineage, stable resume point)."""
        entry = self.manifest.get(name)
        path = self.stage_path(name)
        if entry and entry.get("complete") and entry.get("fingerprint") == fingerprint:
            return self.spark.read.parquet(path)

        t0 = time.time()
        df = build()
        if partitions:
            df = df.repartition(partitions)
        df.write.mode("overwrite").parquet(path)
        out = self.spark.read.parquet(path)
        rows = out.count()
        lin = partition_lineage(out, name, weigh_col=lineage_weigh_col)
        lin.write.mode("overwrite").parquet(os.path.join(self.root, LINEAGE, name))
        self.manifest[name] = {
            "complete": True,
            "fingerprint": fingerprint,
            "rows": rows,
            "seconds": round(time.time() - t0, 3),
            "path": path,
            "finished_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
        }
        self._save()
        return out

    def lineage(self) -> DataFrame:
        return self.spark.read.parquet(os.path.join(self.root, LINEAGE, "*"))

    def invalidate(self, name: str) -> None:
        self.manifest.pop(name, None)
        self._save()
