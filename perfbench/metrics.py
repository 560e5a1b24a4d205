"""Every metric the benchmark reports, with the layer it measures and the
end-to-end metric (and workload) it is predicted to move.

``BENCHMARK.json`` at the repository root is generated from this file
(``python3 perfbench/metrics.py > BENCHMARK.json``); ``selftest.py`` checks
that the two agree.
"""

from __future__ import annotations

import json

RUN_SECONDS = 20

WORKLOADS = {
    "code_ingest": "the only workload that extracts imports and derives edges; then durable PageRank, a "
    "resume, CC and LPA on the small dense import graph, with salting off as the control for hub_skew",
    "hub_skew": "two out-degree hubs sized to engage PageRank's salted gather join, then a triangle "
    "count whose closing edges sit on the hubs",
}

# name, unit, better, bound (share of the parent's median a PR may worsen it by)
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("job_s", "s", "lower", 0.25),
    ("pagerank_s", "s", "lower", 0.25),
    ("pagerank_edges_per_s", "1/s", "higher", 0.25),
]

SPANS = ["read", "extract", "derive_edges", "pagerank", "resume", "canonicalize", "cc", "lpa", "triangles"]

# name, unit, better, predicted mover ("end-to-end metric on workload")
LAYER = [
    ("session.get_spark_s", "s", "lower", "setup_s (all)"),
    ("session.first_job_s", "s", "lower", "setup_s (all)"),
    ("sources.read_s", "s", "lower", "job_s (all)"),
    ("extract.s", "s", "lower", "ingest_files_per_s (code_ingest)"),
    ("extract.files_per_s", "1/s", "higher", "ingest_files_per_s (code_ingest)"),
    ("extract.refs_per_file", "count", "higher", "ingest_files_per_s (code_ingest)"),
    ("edges.derive_s", "s", "lower", "ingest_files_per_s (code_ingest)"),
    ("edges.rows", "count", "higher", "ingest_files_per_s (code_ingest)"),
    ("edges.kept_frac", "1", "higher", "ingest_files_per_s (code_ingest)"),
    ("edges.canonicalize_s", "s", "lower", "job_s (all)"),
    ("pagerank.build_s", "s", "lower", "pagerank_s, resume_s (code_ingest)"),
    ("pagerank.superstep_p50_s", "s", "lower", "pagerank_s, pagerank_edges_per_s (all): per-superstep overhead"),
    ("pagerank.superstep_max_s", "s", "lower", "pagerank_s, pagerank_edges_per_s (all): per-superstep overhead"),
    ("pagerank.supersteps", "count", "lower", "pagerank_s (all)"),
    ("pagerank.final_delta", "1", "lower", "pagerank_s (all)"),
    ("pagerank.shuffle_bytes_per_superstep", "B", "lower", "pagerank_edges_per_s (code_ingest)"),
    ("skew.salted_join", "count", "higher", "pagerank_s (hub_skew); no change on code_ingest"),
    ("skew.n_hot_src", "count", "higher", "pagerank_s (hub_skew); no change on code_ingest"),
    ("skew.ratio_src", "1", "lower", "pagerank_s (hub_skew); no change on code_ingest"),
    ("skew.ratio_dst", "1", "lower", "pagerank_s (hub_skew); no change on code_ingest"),
    ("checkpoint.bytes", "B", "lower", "resume_s (code_ingest)"),
    ("checkpoint.snapshots", "count", "lower", "resume_s (code_ingest)"),
    ("checkpoint.fingerprint_s", "s", "lower", "resume_s (code_ingest)"),
    ("resume.supersteps", "count", "lower", "resume_s (code_ingest)"),
    ("cc.rounds", "count", "lower", "cc_s (code_ingest)"),
    ("cc.final_edges", "count", "lower", "cc_s (code_ingest)"),
    ("lpa.iterations", "count", "lower", "lpa_s (code_ingest)"),
    ("lpa.superstep_p50_s", "s", "lower", "lpa_s (code_ingest)"),
    ("lpa.changed_first", "count", "lower", "lpa_s (code_ingest)"),
    ("lpa.shuffle_bytes_per_superstep", "B", "lower", "lpa_s (code_ingest)"),
    ("triangles.count", "count", "higher", "correctness only (hub_skew)"),
    # user-visible times of one workload each: no bound, so they sit here
    ("ingest_files_per_s", "1/s", "higher", "job_s (code_ingest)"),
    ("resume_s", "s", "lower", "job_s (code_ingest)"),
    ("cc_s", "s", "lower", "job_s (code_ingest)"),
    ("lpa_s", "s", "lower", "job_s (code_ingest)"),
    ("triangles_s", "s", "lower", "job_s (hub_skew)"),
    ("failed_ops_frac", "1", "lower", "correctness (all)"),
    # bimodal from run to run (G1 heap growth), too wide for an end-to-end bound
    ("jvm_peak_rss_mb", "MB", "lower", "memory (all)"),
    ("tracing.job_s", "s", "lower", "traced job_s; minus the untraced median job_s it is the tracing overhead"),
    ("span.uncovered_s", "s", "lower", "job_s (all): part of job_s no span covers"),
    ("run.loadavg_1m", "1", "lower", "provenance: 1-minute loadavg at run start"),
    ("run.cpu_steal_frac", "1", "lower", "provenance: share of CPU time the host took away during the run"),
    ("run.shuffle_partitions", "count", "lower", "provenance: fixed spark.sql.shuffle.partitions"),
]
SPAN_METRICS = [
    ("jobs", "count", "lower", "pagerank_s (code_ingest): per-superstep overhead"),
    ("tasks", "count", "lower", "job_s (all)"),
    ("shuffle_read_bytes", "B", "lower", "pagerank_edges_per_s, lpa_s (code_ingest)"),
    ("shuffle_write_bytes", "B", "lower", "pagerank_edges_per_s, lpa_s (code_ingest)"),
    ("spill_bytes", "B", "lower", "triangles_s (hub_skew), lpa_s (code_ingest)"),
    ("gc_s", "s", "lower", "jvm_peak_rss_mb and all times (all)"),
    ("executor_run_s", "s", "lower", "job_s (all)"),
    ("idle_core_frac", "1", "lower", "job_s (all): driver-side serial time and stragglers"),
    ("task_skew", "1", "lower", "pagerank_s (hub_skew)"),
]


# Spans have no child spans, so a span's self time is its duration: the
# layer's own time metric above (pagerank's is the end-to-end pagerank_s).
PER_LAYER = LAYER + [
    (f"spark.{s}.{m}", unit, better, moves)
    for s in SPANS
    for m, unit, better, moves in SPAN_METRICS
]


def spec() -> dict:
    """The contents of BENCHMARK.json."""
    return {
        "command": ["python3", "perfbench/run.py"],
        "paths": ["perfbench"],
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS.items()],
        "end_to_end": [{"name": n, "unit": u, "better": b, "bound": bd} for n, u, b, bd in END_TO_END],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b, _ in PER_LAYER],
    }


if __name__ == "__main__":
    print(json.dumps(spec(), indent=2))
