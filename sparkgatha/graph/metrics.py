"""G13/S6 — convergence metrics + per-partition lineage (SURVEY.md §2.11).

Reference analog: AGATHA's checkpoint phases record completion only
(agatha/construct/dask_checkpoint.py — SURVEY.md §1.1.5); the north rule
upgrades this to per-superstep delta-L1, active-vertex counts, and
per-partition lineage shas (BASELINE.json north_star).

Lineage fingerprints are *order- and partitioning-insensitive*: each row
is hashed (xxhash64 over its canonical string form) and the per-partition
hashes fold with XOR, so the same logical state produces the same sha at
any partition count — required for resume-equivalence tests (L5).
"""

from __future__ import annotations

import json
import os
import time
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, functions as F


class Lineage(NamedTuple):
    sha: str  # state_fingerprint's sha of the whole state
    rows: int
    partitions: list[dict]  # (partition_id, rows, sha) per partition


def _row_hash(state: DataFrame) -> Column:
    """xxhash64 per row over all columns, doubles canonicalized to 12
    significant digits so fp noise below the correctness tolerance does
    not change lineage."""
    cols = []
    for f in state.schema.fields:
        c = F.col(f.name)
        if f.dataType.simpleString() in ("double", "float"):
            c = F.format_number(c.cast("double"), 12)
        cols.append(c.cast("string"))
    return F.xxhash64(F.concat_ws("\x1f", *cols))


def state_fingerprint(state: DataFrame) -> str:
    """Order/partitioning-insensitive sha of a state DataFrame: the row
    hashes folded with bit_xor, and the row count."""
    agg = state.select(_row_hash(state).alias("h")).agg(
        F.expr("bit_xor(h)").alias("x"), F.count("*").alias("n")
    ).collect()[0]
    return f"{agg['x'] or 0:016x}-{agg['n']}"


def lineage(state: DataFrame, row_hash: Column | None = None) -> Lineage:
    """The state's sha and per-partition lineage from ONE job: the row
    hashes fold with bit_xor per partition, and the partition XORs and
    counts fold on the driver into the global sha.  XOR is associative,
    so with the default ``row_hash`` the sha equals
    :func:`state_fingerprint`'s at any partitioning."""
    h = _row_hash(state) if row_hash is None else row_hash
    per_partition = (
        state.select(F.spark_partition_id().alias("pid"), h.alias("h"))
        .groupBy("pid")
        .agg(F.expr("bit_xor(h)").alias("x"), F.count("*").alias("n"))
        .collect()
    )
    x = n = 0
    partitions = []
    for r in sorted(per_partition, key=lambda r: r["pid"]):
        x ^= r["x"]
        n += r["n"]
        partitions.append({
            "partition_id": r["pid"],
            "rows": r["n"],
            "sha": f"{r['x'] & 0xFFFFFFFFFFFFFFFF:016x}",
        })
    return Lineage(f"{x:016x}-{n}", n, partitions)


class MetricsSink:
    """S6: one row per superstep (per block when fused).

    Buffers the rows on the driver (``rows``) and, with a ``base_dir``,
    appends each as a JSON line to ``_metrics.jsonl``.
    """

    def __init__(self, base_dir: str | None, run_id: str):
        self.base_dir = base_dir
        self.run_id = run_id
        self.rows: list[dict] = []
        if base_dir:
            os.makedirs(base_dir, exist_ok=True)

    def record(
        self,
        iteration: int,
        delta_l1: float,
        active_vertices: int,
        rows: int,
        wall_ms: float,
        lineage_sha: str,
    ) -> dict:
        row = {
            "run_id": self.run_id,
            "iteration": iteration,
            "delta_l1": delta_l1,
            "active_vertices": active_vertices,
            "rows": rows,
            "wall_ms": wall_ms,
            "lineage_sha": lineage_sha,
            "ts": time.time(),
        }
        self.rows.append(row)
        if self.base_dir:
            with open(os.path.join(self.base_dir, "_metrics.jsonl"), "a") as f:
                f.write(json.dumps(row) + "\n")
        return row
