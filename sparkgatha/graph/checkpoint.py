"""G12/S4 — superstep checkpointing + mid-iteration resume (SURVEY.md §2.11).

Reference analog: agatha/construct/dask_checkpoint.py materializes every
pipeline phase to a named directory of part files and skips finished
phases on re-run (SURVEY.md §1.1.5).  Here the unit is one *superstep*:
each iteration writes the state DataFrame to ``{base}/it={N}/`` plus a
JSON manifest (schema, row count, lineage sha, metrics); resume finds the
largest complete iteration and continues the loop from it.

Checkpointing doubles as **lineage truncation** (SURVEY.md §4.2
"iterative lineage growth"): re-reading the parquet gives the next
superstep a fresh one-scan plan, so analyzer/optimizer time stays O(1)
per iteration instead of growing with the iteration count.  When no
durable directory is given, ``localCheckpoint`` provides the truncation
without the IO.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

MANIFEST = "_MANIFEST.json"


class CheckpointManager:
    def __init__(self, base_dir: str | None, run_id: str = "run"):
        self.base_dir = base_dir
        self.run_id = run_id
        if base_dir:
            os.makedirs(base_dir, exist_ok=True)

    def _it_dir(self, iteration: int) -> str:
        assert self.base_dir is not None
        return os.path.join(self.base_dir, f"it={iteration}")

    def save(
        self,
        iteration: int,
        state: DataFrame,
        lineage_sha: str,
        metrics: dict | None = None,
        partitions: list[dict] | None = None,
    ) -> DataFrame:
        """Write state + manifest; return the *re-read* DataFrame (lineage
        truncated).  Without a base_dir, falls back to localCheckpoint."""
        if self.base_dir is None:
            return state.localCheckpoint(eager=True)
        d = self._it_dir(iteration)
        state.write.mode("overwrite").parquet(d)
        manifest = {
            "run_id": self.run_id,
            "iteration": iteration,
            "schema": state.schema.jsonValue(),
            "lineage_sha": lineage_sha,
            "metrics": metrics or {},
            "partitions": partitions or [],
        }
        # manifest written last = commit marker; a crash mid-write leaves
        # no manifest and the iteration is considered incomplete
        with open(os.path.join(d, MANIFEST), "w") as f:
            json.dump(manifest, f, indent=2, sort_keys=True)
        return state.sparkSession.read.parquet(d)

    def manifest(self, iteration: int) -> dict | None:
        if self.base_dir is None:
            return None
        p = os.path.join(self._it_dir(iteration), MANIFEST)
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)

    def latest_complete(self) -> int | None:
        """Largest iteration N whose manifest exists (commit marker)."""
        if self.base_dir is None or not os.path.isdir(self.base_dir):
            return None
        best = None
        for name in os.listdir(self.base_dir):
            if not name.startswith("it="):
                continue
            try:
                it = int(name.split("=", 1)[1])
            except ValueError:
                continue
            if self.manifest(it) is not None and (best is None or it > best):
                best = it
        return best

    def load(self, spark: SparkSession, iteration: int) -> DataFrame:
        return spark.read.parquet(self._it_dir(iteration))
