"""Independent reference implementations the benchmark checks outputs against.

Everything here is numpy or DuckDB: no Spark, and no code shared with
``pgs_spark``. Vertex ids are mapped to dense indices through ``np.unique``,
which sorts them, so "minimum index" and "minimum id" agree everywhere.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pyarrow as pa

ALPHA = 0.85


def _index(src: np.ndarray, dst: np.ndarray):
    ids = np.unique(np.concatenate([src, dst]))
    return ids, np.searchsorted(ids, src), np.searchsorted(ids, dst)


def pagerank(src: np.ndarray, dst: np.ndarray, supersteps: int) -> tuple[np.ndarray, np.ndarray, float]:
    """Power iteration with the engine's update rule, vectorized with
    ``np.bincount``: rank' = (1-a)/N + a*(gather + dangling_mass/N).

    Returns (ids, ranks, L1 delta of the last superstep)."""
    ids, si, di = _index(src, dst)
    n = len(ids)
    outdeg = np.bincount(si, minlength=n).astype(np.float64)
    dangling = outdeg == 0
    inv = np.zeros(n)
    inv[~dangling] = 1.0 / outdeg[~dangling]
    r = np.full(n, 1.0 / n)
    delta = float("inf")
    for _ in range(supersteps):
        gathered = np.bincount(di, weights=r[si] * inv[si], minlength=n)
        new = (1.0 - ALPHA) / n + ALPHA * (gathered + r[dangling].sum() / n)
        delta = float(np.abs(new - r).sum())
        r = new
    return ids, r, delta


def components(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Exact connected components labelled by their minimum vertex id
    (min-label propagation with pointer jumping). Returns (ids, component)."""
    ids, u, v = _index(src, dst)
    lab = np.arange(len(ids))
    while True:
        m = lab.copy()
        np.minimum.at(m, u, lab[v])
        np.minimum.at(m, v, lab[u])
        while True:
            jumped = m[m]
            if np.array_equal(jumped, m):
                break
            m = jumped
        if np.array_equal(m, lab):
            return ids, ids[lab]
        lab = m


def label_propagation(src: np.ndarray, dst: np.ndarray, max_iter: int) -> tuple[np.ndarray, np.ndarray, int]:
    """Synchronous label propagation over an undirected edge list, labels
    initialised to the vertex id; each vertex takes the label most frequent
    among its neighbours, ties going to the smallest label. Stops after the
    first superstep that changes nothing, or after ``max_iter``.

    Returns (ids, labels, supersteps run)."""
    ids, u, v = _index(src, dst)
    n = len(ids)
    a = np.concatenate([u, v])  # vertex
    b = np.concatenate([v, u])  # its neighbour
    lab = np.arange(n, dtype=np.int64)
    it = 0
    for it in range(1, max_iter + 1):
        keys, counts = np.unique(a * n + lab[b], return_counts=True)
        vert, cand = keys // n, keys % n
        # per vertex: highest count first, then smallest label
        order = np.lexsort((cand, -counts, vert))
        first = np.ones(len(order), dtype=bool)
        first[1:] = vert[order][1:] != vert[order][:-1]
        best = order[first]
        new = lab.copy()
        new[vert[best]] = cand[best]
        changed = int((new != lab).sum())
        lab = new
        if changed == 0:
            break
    return ids, ids[lab], it


def triangle_count(src: np.ndarray, dst: np.ndarray, threads: int) -> int:
    """Exact triangle count in DuckDB: orient every undirected edge from the
    lower (degree, id) endpoint to the higher one, list the directed paths
    a→b→c, and count those closed by an edge a→c — once per triangle. The
    paths are materialized first so that the closing join cannot be planned
    as a join of hub in-edges with each other."""
    lo, hi = np.minimum(src, dst), np.maximum(src, dst)
    keep = lo != hi
    with duckdb.connect() as con:
        con.execute(f"SET threads = {int(threads)}")
        con.register("raw", pa.table({"u": lo[keep], "v": hi[keep]}))
        con.execute(
            """
            CREATE TABLE o AS
            WITH und AS (SELECT DISTINCT u, v FROM raw),
            deg AS (
                SELECT x, count(*) AS d
                FROM (SELECT u AS x FROM und UNION ALL SELECT v FROM und)
                GROUP BY x
            )
            SELECT
                CASE WHEN du < dv OR (du = dv AND u < v) THEN u ELSE v END AS a,
                CASE WHEN du < dv OR (du = dv AND u < v) THEN v ELSE u END AS b
            FROM (
                SELECT u, v, d1.d AS du, d2.d AS dv
                FROM und JOIN deg d1 ON u = d1.x JOIN deg d2 ON v = d2.x
            )
            """
        )
        con.execute("CREATE TABLE paths AS SELECT o1.a AS a, o2.b AS c FROM o o1 JOIN o o2 ON o1.b = o2.a")
        return int(con.execute("SELECT count(*) FROM paths JOIN o ON o.a = paths.a AND o.b = paths.c").fetchone()[0])


def code_edges(files_path: str, repos_path: str, threads: int) -> tuple[int, np.ndarray, np.ndarray]:
    """Import references and repo-to-repo edges of a ``code_files`` parquet
    input, computed in DuckDB from the per-language import syntax.

    Returns (references extracted, edge src ids, edge dst ids)."""
    patterns = {
        "python": r"(?m)^\s*(?:import|from)\s+(repo_\w+)",
        "java": r"(?m)^\s*import\s+(?:static\s+)?(repo_\w+)\.",
        "js": r"require\(\s*['\"](repo_\w+)['\"]\s*\)",
    }
    quoted = {lang: p.replace("'", "''") for lang, p in patterns.items()}
    arms = " UNION ALL ".join(
        f"SELECT repo, unnest(regexp_extract_all(content, '{p}', 1)) AS ref "
        f"FROM read_parquet('{files_path}') WHERE lang = '{lang}'"
        for lang, p in quoted.items()
    )
    with duckdb.connect() as con:
        con.execute(f"SET threads = {int(threads)}")
        con.execute(f"CREATE TABLE refs AS SELECT repo, lower(trim(ref)) AS ref FROM ({arms})")
        n_refs = con.execute("SELECT count(*) FROM refs").fetchone()[0]
        rows = con.execute(
            f"""
            SELECT DISTINCT s.repo_id AS src, d.repo_id AS dst
            FROM refs
            JOIN read_parquet('{repos_path}') s ON refs.repo = s.repo
            JOIN read_parquet('{repos_path}') d ON refs.ref = lower(d.repo)
            WHERE s.repo_id <> d.repo_id
            """
        ).fetchnumpy()
    return int(n_refs), rows["src"], rows["dst"]
