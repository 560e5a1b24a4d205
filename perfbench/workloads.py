"""The workload pipelines and the checks of their outputs.

A pipeline calls the public function of each layer inside a span and leaves
every result materialized (persisted and counted, or written under the
pass's directory). ``check`` then reads those results back with pyarrow and
compares them with the oracles; it runs after the timed pipeline.
"""

from __future__ import annotations

import os
import statistics
import time
from dataclasses import dataclass, field

import numpy as np
import pyarrow.parquet as pq

import oracles
from pgs_spark.functions.extract import with_refs
from pgs_spark.operators.components import connected_components
from pgs_spark.operators.edges import canonicalize, derive_edges
from pgs_spark.operators.label_propagation import label_propagation
from pgs_spark.operators.pagerank import pagerank
from pgs_spark.operators.triangles import triangle_count
from pgs_spark.streaming.checkpoint import fingerprint_edges

TOL = 1e-6
# Cap on LPA supersteps; the code_ingest graph converges well before it.
LPA_MAX_ITER = 30

OPS = {
    "code_ingest": ["read", "extract", "derive_edges", "pagerank", "resume", "canonicalize", "cc", "lpa"],
    "hub_skew": ["read", "pagerank", "canonicalize", "triangles"],
}
# Whether PageRank's salted gather join must engage: hub_skew exists to
# exercise it, code_ingest is the control that must not.
SALTED = {"code_ingest": False, "hub_skew": True}


@dataclass
class Pass:
    """What one pass of a pipeline measured (``m``) and left behind to check."""

    workdir: str
    m: dict = field(default_factory=dict)
    out: dict = field(default_factory=dict)
    keep: dict = field(default_factory=dict)  # DataFrames to write out for the checks

    def save(self) -> None:
        """Write ``keep`` under the pass's directory, after the timing."""
        for name, df in self.keep.items():
            df.write.parquet(os.path.join(self.workdir, name))


def _span(tracer, p: Pass, name: str):
    """Enter span ``name``; the op that fails, if any, is the last one entered."""
    p.out["op"] = name
    return tracer.span(name)


def _pagerank(spark, tracer, p: Pass, edges, name: str, **kw):
    with _span(tracer, p, name) as s:
        res = pagerank(spark, edges, tol=TOL, **kw)
        seconds = time.perf_counter() - s["start"]
        res.ranks.write.parquet(os.path.join(p.workdir, f"ranks_{name}.parquet"))
    return res, seconds


def _pagerank_metrics(p: Pass, res, seconds: float, n_edges: int) -> None:
    steps = [h["seconds"] for h in res.history]
    last = res.history[-1]
    p.out["converged"] = res.converged
    p.m.update(
        {
            "pagerank_s": seconds,
            "pagerank_edges_per_s": n_edges * res.iterations / seconds,
            "pagerank.build_s": seconds - sum(steps),
            "pagerank.superstep_p50_s": statistics.median(steps),
            "pagerank.superstep_max_s": max(steps),
            "pagerank.supersteps": res.iterations,
            "pagerank.final_delta": last["delta"],
            "pagerank.shuffle_bytes_per_superstep": statistics.median(
                h["shuffle_write_bytes"] + h["shuffle_read_bytes"] for h in res.history
            ),
            "skew.salted_join": int(last["salted_join"]),
            "skew.n_hot_src": last["n_hot_src"],
            "skew.ratio_src": last["skew_ratio_src"],
            "skew.ratio_dst": last["skew_ratio_dst"],
        }
    )


def _ingest(spark, tracer, paths: dict, p: Pass):
    """code_files → (repo, ref) references → repo-to-repo edge table."""
    m = p.m
    with _span(tracer, p, "read") as s:
        files = spark.read.parquet(paths["files"]).persist()
        repos = spark.read.parquet(paths["repos"]).persist()
        n_files = files.count()
        repos.count()
    m["sources.read_s"] = s["end"] - s["start"]
    p.out["files_rows"] = n_files
    with _span(tracer, p, "extract") as s:
        refs = with_refs(files, verify_sha=True).persist()
        n_refs = refs.count()
    m["extract.s"] = s["end"] - s["start"]
    p.out["refs"] = n_refs
    with _span(tracer, p, "derive_edges") as s:
        edges = derive_edges(refs, repos).persist()
        n_edges = edges.count()
    m["edges.derive_s"] = s["end"] - s["start"]
    m.update(
        {
            "extract.files_per_s": n_files / m["extract.s"],
            "extract.refs_per_file": n_refs / n_files,
            "edges.rows": n_edges,
            "edges.kept_frac": n_edges / n_refs,
            "ingest_files_per_s": n_files / (m["extract.s"] + m["edges.derive_s"]),
        }
    )
    p.keep["edges.parquet"] = edges
    return edges, n_edges


def _canonicalize(tracer, p: Pass, edges):
    with _span(tracer, p, "canonicalize") as s:
        und = canonicalize(edges).persist()
        p.out["und_rows"] = und.count()
    p.m["edges.canonicalize_s"] = s["end"] - s["start"]
    return und


def run(workload: str, spark, tracer, paths: dict, p: Pass) -> None:
    """One pass of ``workload``. A failing layer call raises; the op it
    belongs to is left in ``p.out["op"]``."""
    m = p.m
    if workload == "hub_skew":
        with _span(tracer, p, "read") as s:
            edges = spark.read.parquet(paths["edges"]).persist()
            n_edges = p.out["edges_rows"] = edges.count()
        m["sources.read_s"] = s["end"] - s["start"]
        res, seconds = _pagerank(spark, tracer, p, edges, "pagerank")
        _pagerank_metrics(p, res, seconds, n_edges)
        und = _canonicalize(tracer, p, edges)
        with _span(tracer, p, "triangles") as s:
            p.out["triangles"] = triangle_count(spark, und)
        m["triangles_s"] = s["end"] - s["start"]
        m["triangles.count"] = p.out["triangles"]
        return

    edges, n_edges = _ingest(spark, tracer, paths, p)
    cp = os.path.join(p.workdir, "checkpoint")
    res, seconds = _pagerank(spark, tracer, p, edges, "pagerank", checkpoint_dir=cp)
    _pagerank_metrics(p, res, seconds, n_edges)
    # a driver lost during the last superstep: its manifest never landed
    newest = sorted(n for n in os.listdir(cp) if n.startswith("manifest_"))[-1]
    os.remove(os.path.join(cp, newest))
    resumed, m["resume_s"] = _pagerank(spark, tracer, p, edges, "resume", checkpoint_dir=cp)
    p.out["resumed_iterations"] = resumed.iterations
    m["resume.supersteps"] = len(resumed.history)
    m["checkpoint.snapshots"] = len(res.history) + len(resumed.history)
    m["checkpoint.bytes"] = sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(cp) for f in fs
    )

    und = _canonicalize(tracer, p, edges)
    with _span(tracer, p, "cc") as s:
        cc = connected_components(spark, und)
        cc.components.write.parquet(os.path.join(p.workdir, "cc.parquet"))
    m["cc_s"] = s["end"] - s["start"]
    m["cc.rounds"] = cc.rounds
    m["cc.final_edges"] = cc.history[-1]["edges"]
    with _span(tracer, p, "lpa") as s:
        lpa = label_propagation(spark, und, max_iter=LPA_MAX_ITER)
        lpa.labels.write.parquet(os.path.join(p.workdir, "lpa.parquet"))
    m["lpa_s"] = s["end"] - s["start"]
    p.out["lpa_converged"] = lpa.converged
    m["lpa.iterations"] = lpa.iterations
    m["lpa.superstep_p50_s"] = statistics.median(h["seconds"] for h in lpa.history)
    m["lpa.changed_first"] = lpa.history[0]["changed"]
    m["lpa.shuffle_bytes_per_superstep"] = statistics.median(
        h["shuffle_write_bytes"] + h["shuffle_read_bytes"] for h in lpa.history
    )


def fingerprint_seconds(spark, edges_path: str) -> float:
    """Time of ``fingerprint_edges`` on a PageRank input edge table."""
    edges = spark.read.parquet(edges_path)
    t = time.perf_counter()
    fingerprint_edges(edges)
    return time.perf_counter() - t


# ---- checks ---------------------------------------------------------------


def _read(path: str, *cols: str) -> list[np.ndarray]:
    t = pq.read_table(path, columns=list(cols))
    return [t.column(c).to_numpy() for c in cols]


def _by_id(ids: np.ndarray, vals: np.ndarray, want: np.ndarray) -> np.ndarray | None:
    """``vals`` reordered to match ``want`` (sorted ids); None unless the id
    sets agree."""
    order = np.argsort(ids)
    if len(ids) != len(want) or not np.array_equal(ids[order], want):
        return None
    return vals[order]


def _pairs(src: np.ndarray, dst: np.ndarray) -> np.ndarray:
    return np.unique(np.stack([src, dst], axis=1), axis=0)


class Oracle:
    """Oracle answers for one input, each computed once per run."""

    def __init__(self, workload: str, paths: dict, threads: int):
        self.threads = threads
        self._pr: dict[int, tuple] = {}
        self._cc = self._lpa = self._tri = None
        if workload == "code_ingest":
            self.files = pq.read_table(paths["files"], columns=[]).num_rows
            self.refs, src, dst = oracles.code_edges(
                os.path.join(paths["files"], "*.parquet"),
                os.path.join(paths["repos"], "*.parquet"),
                threads,
            )
        else:
            src, dst = _read(paths["edges"], "src", "dst")
        self.edges = _pairs(src, dst)
        self.und = _pairs(np.minimum(src, dst), np.maximum(src, dst))

    def pagerank(self, supersteps: int):
        if supersteps not in self._pr:
            self._pr[supersteps] = oracles.pagerank(self.edges[:, 0], self.edges[:, 1], supersteps)
        return self._pr[supersteps]


def check(workload: str, oracle: Oracle, p: Pass) -> dict[str, str]:
    """Op name -> reason, for every op whose output disagrees with the oracle
    or whose workload guard failed. Empty when everything is correct."""
    bad: dict[str, str] = {}
    out, wd = p.out, p.workdir
    if workload == "code_ingest":
        if out["files_rows"] != oracle.files:
            bad["read"] = f"read {out['files_rows']} files of {oracle.files}"
        if out["refs"] != oracle.refs:
            bad["extract"] = f"{out['refs']} refs, oracle {oracle.refs}"
        src, dst = _read(os.path.join(wd, "edges.parquet"), "src", "dst")
        if len(src) != len(oracle.edges) or not np.array_equal(_pairs(src, dst), oracle.edges):
            bad["derive_edges"] = f"{len(src)} edges differ from the oracle's {len(oracle.edges)}"
    elif out["edges_rows"] != len(oracle.edges):
        bad["read"] = f"read {out['edges_rows']} rows of {len(oracle.edges)}"

    # PageRank, per vertex, against the oracle run for as many supersteps
    steps = p.m["pagerank.supersteps"]
    ids, want, delta = oracle.pagerank(steps)
    gid, grank = _read(os.path.join(wd, "ranks_pagerank.parquet"), "id", "rank")
    got = _by_id(gid, grank, ids)
    if got is None or not np.allclose(got, want, rtol=TOL, atol=0.0):
        bad["pagerank"] = "ranks differ from the oracle"
    elif not out["converged"] or delta >= TOL or p.m["pagerank.final_delta"] >= TOL:
        bad["pagerank"] = f"not converged to {TOL} after {steps} supersteps"
    if bool(p.m["skew.salted_join"]) != SALTED[workload]:
        bad["pagerank"] = f"skew.salted_join is {p.m['skew.salted_join']}; {workload} needs {int(SALTED[workload])}"

    if out["und_rows"] != len(oracle.und):
        bad["canonicalize"] = f"{out['und_rows']} canonical edges, oracle {len(oracle.und)}"
    u, v = oracle.und[:, 0], oracle.und[:, 1]
    if workload == "hub_skew":
        if oracle._tri is None:
            oracle._tri = oracles.triangle_count(u, v, oracle.threads)
        if out["triangles"] != oracle._tri:
            bad["triangles"] = f"{out['triangles']} triangles, oracle {oracle._tri}"
        return bad

    rid, rrank = _read(os.path.join(wd, "ranks_resume.parquet"), "id", "rank")
    resumed = _by_id(rid, rrank, ids)
    if (
        resumed is None
        or got is None
        or not np.allclose(resumed, got, rtol=1e-9, atol=0.0)
        or out["resumed_iterations"] != steps
    ):
        bad["resume"] = "resumed ranks differ from the uninterrupted run"
    if oracle._cc is None:
        oracle._cc = oracles.components(u, v)
    cid, comp = _read(os.path.join(wd, "cc.parquet"), "id", "component")
    got = _by_id(cid, comp, oracle._cc[0])
    if got is None or not np.array_equal(got, oracle._cc[1]):
        bad["cc"] = "components differ from the oracle"
    if oracle._lpa is None:
        oracle._lpa = oracles.label_propagation(u, v, LPA_MAX_ITER)
    lid, lab = _read(os.path.join(wd, "lpa.parquet"), "id", "label")
    got = _by_id(lid, lab, oracle._lpa[0])
    if got is None or not np.array_equal(got, oracle._lpa[1]) or p.m["lpa.iterations"] != oracle._lpa[2]:
        bad["lpa"] = "labels differ from the oracle"
    elif not out["lpa_converged"]:
        bad["lpa"] = f"not converged in {LPA_MAX_ITER} supersteps"
    return bad
