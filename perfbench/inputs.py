"""Seeded benchmark inputs, written to parquet.

The same workload, size and seed always give the same rows. A cached input
lives under ``<cache>/<workload>-<size tag>-s<seed>/``, written to a
temporary name and renamed into place, so an interrupted run never leaves a
half-written input behind. The program under test receives only the parquet
paths.
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Sizes per workload. ``tiny`` is the self-test size.
SIZES = {
    "code_ingest": {
        "full": {"n_repos": 300, "n_files": 40_000},
        "tiny": {"n_repos": 40, "n_files": 600},
    },
    # A hub needs 100k out-edges (PageRank's default salting floor), more
    # than 16x the mean out-degree and 1.5x |E| / shuffle partitions. The
    # sparse background leaves most vertices dangling, which keeps PageRank
    # under ten supersteps. The tiny size cannot reach the floor, so the
    # self-test lowers it instead.
    "hub_skew": {
        "full": {"n_vertices": 101_000, "n_hubs": 2, "hub_degree": 100_500, "n_background": 20_000},
        "tiny": {"n_vertices": 400, "n_hubs": 2, "hub_degree": 300, "n_background": 800},
    },
}
# Graph inputs are split into this many files so the read is parallel.
N_PARTS = 8
# hub_skew's graph shape is drawn from this seed whatever the run's seed.
SHAPE_SEED = 0


def tag(size: dict) -> str:
    return "-".join(f"{k}{v}" for k, v in sorted(size.items()))


def _dedup(src: np.ndarray, dst: np.ndarray, n: int) -> tuple[np.ndarray, np.ndarray]:
    """Drop self-loops and repeated (src, dst) pairs."""
    keep = src != dst
    key = np.unique(src[keep] * n + dst[keep])
    return key // n, key % n


def hub_skew(
    seed: int, n_vertices: int, n_hubs: int, hub_degree: int, n_background: int
) -> tuple[np.ndarray, np.ndarray]:
    """``n_hubs`` vertices each pointing at ``hub_degree`` distinct vertices,
    over a sparse uniform background graph. Background edges between two
    neighbours of a hub close triangles through it, so the wedge work sits
    on the hubs.

    The shape is drawn from a fixed seed: PageRank's superstep count on such
    a sparse graph swings by a fifth from draw to draw, which would swamp the
    engine's own run-to-run spread. ``seed`` draws the vertex ids, and with
    them which vertices are hubs and where every edge lands in the hash
    partitioning, and the row order."""
    shape = np.random.default_rng(SHAPE_SEED)
    hubs = shape.choice(n_vertices, n_hubs, replace=False)
    src = [np.repeat(hubs, hub_degree), shape.integers(0, n_vertices, n_background)]
    dst = [shape.choice(n_vertices, hub_degree, replace=False) for _ in hubs]
    dst.append(shape.integers(0, n_vertices, n_background))
    src, dst = _dedup(np.concatenate(src), np.concatenate(dst), n_vertices)
    rng = np.random.default_rng(seed)
    ids = rng.permutation(n_vertices)
    order = rng.permutation(len(src))
    return ids[src[order]], ids[dst[order]]


def ensure(cache: str, workload: str, size_name: str, seed: int, spark, run_dir: str) -> dict[str, str]:
    """Return the parquet paths of one input, generating it if needed.

    ``hub_skew`` is generated with numpy and cached. ``code_ingest`` comes
    from the program's own ``code_files`` generator and is generated again in
    every run, into ``run_dir``: generating it warms the measuring JVM, and
    runs that found it cached measured ~6% slower ``job_s`` than runs that
    had just generated it."""
    size = SIZES[workload][size_name]
    if workload == "code_ingest":
        from pgs_spark.sources.generator import generate_code_files, repo_table

        paths = {n: os.path.join(run_dir, "input", f"{n}.parquet") for n in ("files", "repos")}
        generate_code_files(spark, size["n_repos"], size["n_files"], seed).write.parquet(paths["files"])
        repo_table(spark, size["n_repos"]).write.parquet(paths["repos"])
        return paths
    entry = os.path.join(cache, f"{workload}-{tag(size)}-s{seed}")
    paths = {"edges": os.path.join(entry, "edges.parquet")}
    if os.path.isdir(entry):
        return paths
    tmp = f"{entry}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(os.path.join(tmp, "edges.parquet"))
    src, dst = hub_skew(seed, **size)
    for i, part in enumerate(np.array_split(np.arange(len(src)), N_PARTS)):
        pq.write_table(
            pa.table({"src": src[part].astype(np.int64), "dst": dst[part].astype(np.int64)}),
            os.path.join(tmp, "edges.parquet", f"part-{i}.parquet"),
        )
    os.replace(tmp, entry)
    return paths
