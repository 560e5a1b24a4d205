"""Superstep checkpointing with manifests — resumable iteration state.

The reference's frame-loop recompute (examples/leafColoring.pde:16-18) maps to
batch supersteps with durable state (SURVEY §2.10): every iteration writes the
vertex-state DataFrame plus a JSON manifest carrying iteration number, input
fingerprint, convergence metrics, and per-partition lineage. A restarted run
reads the newest manifest and resumes mid-convergence — Spark's own
``checkpoint()`` truncates lineage but does not survive a driver restart, so
state is persisted as parquet snapshots (Iceberg in production; same layout).

Writing state back out and reading it in ALSO truncates lineage, which keeps
the per-superstep plan flat instead of growing with iteration count — the
two-phase "compute all, then flip" barrier of PMesh.smoothScaled
(commons/PMesh.java:237-270) expressed as an immutable snapshot swap.
"""

from __future__ import annotations

import json
import os
import shutil
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pgs_spark.operators.state import make_work_dir, snapshot


class CheckpointManager:
    """Manages `<dir>/state_<iter>/` parquet snapshots + `manifest_<iter>.json`.

    ``directory=None`` puts the snapshots in an ephemeral directory
    (`state.make_work_dir`): the same superstep path, minus durability."""

    def __init__(
        self, spark: SparkSession, directory: str | None, input_fingerprint: str = ""
    ):
        self.spark = spark
        self.dir = directory if directory is not None else make_work_dir("pgs_ckpt_")
        self.fingerprint = input_fingerprint
        os.makedirs(self.dir, exist_ok=True)

    # -- write ---------------------------------------------------------------
    def save(
        self,
        state: DataFrame,
        iteration: int,
        metrics: dict | None = None,
        lineage: bool = True,
        suffix: str = "",
        metrics_fn=None,
        manifest: bool = True,
    ) -> DataFrame:
        """Persist one superstep's vertex state and publish its ONE manifest;
        returns the re-read DataFrame (flat lineage, with its parquet path on
        `_pgs_snapshot_path`). Per-partition lineage (row counts by
        partition) is recorded in the manifest unless `lineage=False`
        (ephemeral checkpoints skip that extra job). `metrics_fn` (no-arg
        callable → dict) is evaluated AFTER the parquet write action — the
        hook for Observation metrics that ride the write job — and its result
        is merged over `metrics`, so everything a resume needs lands in the
        same manifest as the snapshot it describes.

        Multi-state iterations write the secondary state with a distinct
        `suffix` and ``manifest=False`` FIRST, then let the final `save()`
        emit the one manifest referencing both paths, so a crash between the
        two writes never publishes a half-round manifest."""
        name = f"state_{iteration:05d}{suffix}"
        reread = snapshot(state, self.dir, name)
        reread._pgs_snapshot_path = path = os.path.join(self.dir, name)
        if not manifest:
            return reread
        if metrics_fn is not None:
            metrics = {**(metrics or {}), **(metrics_fn() or {})}
        part_rows = []
        if lineage:
            part_rows = [
                (r["pid"], r["rows"])
                for r in reread.groupBy(F.spark_partition_id().alias("pid"))
                .agg(F.count("*").alias("rows"))
                .collect()
            ]
        self._write_manifest(iteration, path, metrics, sorted(part_rows))
        return reread

    def _write_manifest(
        self, iteration: int, path: str, metrics: dict | None, partitions: list
    ) -> None:
        """Publish `manifest_<iteration>.json` atomically: the document is
        written under a `.tmp` name and renamed into place, so a crash
        mid-write never leaves a torn manifest for `latest()` to read."""
        manifest = {
            "iteration": iteration,
            "path": path,
            "input_fingerprint": self.fingerprint,
            "wall_clock": time.time(),
            "partitions": partitions,
            "metrics": metrics or {},
        }
        final = os.path.join(self.dir, f"manifest_{iteration:05d}.json")
        with open(final + ".tmp", "w") as f:
            json.dump(manifest, f)
        os.replace(final + ".tmp", final)

    # -- read ----------------------------------------------------------------
    def _manifest_names(self) -> list[str]:
        """Published manifest filenames, oldest → newest (a `.tmp` never is)."""
        if not os.path.isdir(self.dir):
            return []
        return sorted(
            n for n in os.listdir(self.dir) if n.startswith("manifest_") and n.endswith(".json")
        )

    def latest(self) -> dict | None:
        """Newest manifest dict, or None if no checkpoint exists."""
        names = self._manifest_names()
        if not names:
            return None
        with open(os.path.join(self.dir, names[-1])) as f:
            return json.load(f)

    def manifests(self) -> list[dict]:
        """All manifest dicts, oldest → newest (filename order). Lets callers
        fall back past an incomplete newest manifest (e.g. a crash between a
        pair of per-iteration snapshots) to the last complete one."""
        out = []
        for n in self._manifest_names():
            with open(os.path.join(self.dir, n)) as f:
                out.append(json.load(f))
        return out

    def load(self, manifest: dict) -> DataFrame:
        return self.spark.read.parquet(manifest["path"])

    def resume_point(self) -> tuple[int, DataFrame, dict] | None:
        """(iteration, state, metrics) of the newest checkpoint, if any, and
        only if it belongs to the same input (fingerprint match). Otherwise
        the directory is cleared — stale state from a different input must
        never mix with this run's snapshots — and None is returned."""
        m = self.latest()
        if m is None or m.get("input_fingerprint") != self.fingerprint:
            self.clear()
            return None
        return m["iteration"], self.load(m), m.get("metrics", {})

    def clear(self) -> None:
        """Remove all snapshots + manifests (e.g. stale state from a different
        input fingerprint — resuming across inputs would be wrong)."""
        for name in list(os.listdir(self.dir)):
            full = os.path.join(self.dir, name)
            if name.startswith("state_"):
                shutil.rmtree(full, ignore_errors=True)
            elif name.startswith("manifest_"):
                os.remove(full)

    def prune(self, keep_last: int = 2) -> None:
        """Drop all but the newest `keep_last` snapshots (bounded storage)."""
        names = self._manifest_names()
        for name in names[:-keep_last] if keep_last else names:
            with open(os.path.join(self.dir, name)) as f:
                m = json.load(f)
            shutil.rmtree(m["path"], ignore_errors=True)
            os.remove(os.path.join(self.dir, name))


def fingerprint_edges(edges: DataFrame) -> str:
    """Order-insensitive content fingerprint of an edge table: count plus an
    xor/sum of per-row hashes (cheap single aggregation; deterministic under
    any partitioning — the determinism discipline of PGS_Conversion.java:1088).
    """
    row = edges.select(
        F.count("*").alias("n"),
        F.bit_xor(F.xxhash64("src", "dst")).alias("h"),
    ).first()
    return f"{row['n']}:{row['h']}"
