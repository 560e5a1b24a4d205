"""Self-test of the benchmark: the oracles against plain-loop references,
BENCHMARK.json against ``metrics.py``, and every workload end to end at toy
size, in both trace modes, with all output checks on.

    python3 perfbench/selftest.py

Run from the repository root; takes a few minutes (one JVM per run).
"""

from __future__ import annotations

import json
import os
import random
import subprocess
import sys
from collections import Counter, defaultdict

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import metrics  # noqa: E402
import oracles  # noqa: E402


def loop_pagerank(edges, supersteps, alpha=0.85):
    nodes = sorted({x for e in edges for x in e})
    outdeg = Counter(u for u, _ in edges)
    r = {v: 1.0 / len(nodes) for v in nodes}
    for _ in range(supersteps):
        gathered = defaultdict(float)
        for u, v in edges:
            gathered[v] += r[u] / outdeg[u]
        dmass = sum(r[v] for v in nodes if v not in outdeg)
        r = {v: (1 - alpha) / len(nodes) + alpha * (gathered[v] + dmass / len(nodes)) for v in nodes}
    return r


def loop_lpa(edges, max_iter):
    nbrs = defaultdict(list)
    for u, v in edges:
        nbrs[u].append(v)
        nbrs[v].append(u)
    lab = {v: v for v in nbrs}
    it = 0
    for it in range(1, max_iter + 1):
        new = {}
        for v, ns in nbrs.items():
            c = Counter(lab[x] for x in ns)
            new[v] = min(c, key=lambda k: (-c[k], k))
        changed = sum(new[v] != lab[v] for v in lab)
        lab = new
        if changed == 0:
            break
    return lab, it


def loop_components(edges):
    adj = defaultdict(set)
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    comp = {}
    for s in sorted(adj):
        if s in comp:
            continue
        stack = [s]
        comp[s] = s
        while stack:
            for y in adj[stack.pop()]:
                if y not in comp:
                    comp[y] = s
                    stack.append(y)
    return comp


def loop_triangles(edges):
    adj = defaultdict(set)
    for u, v in edges:
        if u != v:
            adj[u].add(v)
            adj[v].add(u)
    return sum(len(adj[u] & adj[v]) for u in adj for v in adj[u] if u < v) // 3


def check_oracles() -> None:
    rng = random.Random(7)
    for trial in range(5):
        n = 30 + 10 * trial
        edges = sorted({(rng.randrange(n), rng.randrange(n)) for _ in range(3 * n)})
        edges = [(u * 7 + 3, v * 7 + 3) for u, v in edges if u != v]
        src = np.array([u for u, _ in edges], dtype=np.int64)
        dst = np.array([v for _, v in edges], dtype=np.int64)

        ids, ranks, _ = oracles.pagerank(src, dst, 12)
        ref = loop_pagerank(edges, 12)
        assert np.allclose(ranks, [ref[v] for v in ids], rtol=1e-12, atol=0), "pagerank oracle"

        ids, comp = oracles.components(src, dst)
        ref = loop_components(edges)
        assert [ref[v] for v in ids] == comp.tolist(), "components oracle"

        ids, labels, it = oracles.label_propagation(src, dst, 8)
        ref, ref_it = loop_lpa(edges, 8)
        assert ([ref[v] for v in ids], ref_it) == (labels.tolist(), it), "lpa oracle"

        assert oracles.triangle_count(src, dst, 2) == loop_triangles(edges), "triangle oracle"
    print("oracles agree with the loop references")


def check_spec() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        assert json.load(f) == metrics.spec(), "BENCHMARK.json differs from metrics.spec()"
    print("BENCHMARK.json matches metrics.py")


def check_workloads() -> None:
    for workload in metrics.WORKLOADS:
        env = dict(os.environ)
        if workload == "hub_skew":
            env["PGS_SALT_MIN_DEGREE"] = "100"  # toy hubs: lower the salting floor
        for trace, names in ((0, metrics.END_TO_END), (1, metrics.PER_LAYER)):
            cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", "3",
                   "--seconds", "0", "--trace", str(trace), "--size", "tiny"]
            proc = subprocess.run(cmd, cwd=ROOT, env=env, capture_output=True, text=True, timeout=900)
            if proc.returncode != 0:
                sys.stderr.write(proc.stderr[-5000:])
                raise SystemExit(f"{workload} trace={trace}: exit {proc.returncode}")
            res = json.loads(proc.stdout.strip().splitlines()[-1])
            assert res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, res
            assert sorted(res["metrics"]) == sorted(n for n, *_ in names), f"{workload}: metric names"
            if trace:
                salted = res["metrics"]["skew.salted_join"]["value"]
                assert salted == (1 if workload == "hub_skew" else 0), f"{workload}: salted_join {salted}"
            print(f"{workload} trace={trace}: correct, {res['attempted']} ops")


if __name__ == "__main__":
    check_oracles()
    check_spec()
    check_workloads()
