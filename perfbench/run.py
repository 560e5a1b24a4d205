"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. One invocation is one run: a fresh Python
process and JVM, at ``local[<cores>]`` with a fixed shuffle-partition count.
It sets up Spark (timed), makes or reuses the seeded input (untimed), then
runs the workload pipeline until ``--seconds`` is used up, starting no pass
that would not end in time (but always one), and checks every pass against
the oracles outside the timing. The last line of
standard output is one JSON object: ``correct``, ``attempted`` and ``failed``
count layer calls, and ``metrics`` holds the end-to-end metrics
(``--trace 0``) or the per-layer ones (``--trace 1``), each the median over
the run's passes.

With ``--trace 1`` every pass tags each span's Spark jobs with a job group
and reads the jobs, stages and tasks back from the status store afterwards;
its ``tracing.job_s`` minus the untraced median ``job_s`` is the tracing
overhead, which ``report.py`` prints. The spans, with their self times, are
written to ``.perfbench_runs/<run>.spans.json`` when the run ends. Every
other scratch file lives in the run's own directory under
``.perfbench_runs/``, deleted when the run ends; ``hub_skew`` inputs are
cached under ``.perfbench_cache/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".perfbench_cache")
RUNS = os.path.join(ROOT, ".perfbench_runs")


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) jiffies of the whole machine, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:9]]
    return fields[7], sum(fields)


def median_of(passes: list[dict], name: str) -> float:
    vals = [p[name] for p in passes if name in p]
    return float(statistics.median(vals)) if vals else 0.0


def bench(args, run_dir: str, cores: int) -> dict:
    import inputs
    import jvm
    import metrics
    import spans as tr
    import workloads as wl

    started_run = time.perf_counter()
    loadavg = os.getloadavg()[0]
    ticks0 = cpu_ticks()
    spark, setup = jvm.start_spark(cores, tr.RETAIN_CONF if args.trace else None)
    try:
        paths = inputs.ensure(CACHE, args.workload, args.size, args.seed, spark, run_dir)
        oracle = wl.Oracle(args.workload, paths, cores)
        tracer = tr.Tracer(spark, uuid.uuid4().hex[:8], enabled=bool(args.trace))
        ops = wl.OPS[args.workload]
        attempted = failed = 0
        passes: list[dict] = []
        deadline = time.perf_counter() + args.seconds
        n = 0
        p = None
        while True:
            started = time.perf_counter()
            if p is not None:
                shutil.rmtree(p.workdir, ignore_errors=True)
            p = wl.Pass(os.path.join(run_dir, f"pass{n}"))
            os.makedirs(p.workdir)
            first = len(tracer.spans)
            with tracer.span("job") as root:
                try:
                    wl.run(args.workload, spark, tracer, paths, p)
                    error = None
                except Exception:  # a layer call failed: count it, stop the run
                    error = traceback.format_exc()
            if error is None:
                p.save()
                bad = wl.check(args.workload, oracle, p)
                attempted += len(ops)
            else:
                log(error)
                bad = {p.out["op"]: "raised"}
                attempted += ops.index(p.out["op"]) + 1
            failed += len(bad)
            for op, why in bad.items():
                log(f"FAILED {args.workload}/{op}: {why}")
            spark.catalog.clearCache()
            p.m["job_s"] = root["end"] - root["start"]
            if args.trace:
                spans = tracer.spans[first:]
                p.m["span.uncovered_s"] = tr.self_seconds(root, spans)
                p.m["spark"] = tr.harvest(spark, [s for s in spans if s is not root], cores)
            passes.append(p.m)
            log(f"pass {n}: " + " ".join(f"{k}={v:.3f}" for k, v in p.m.items() if k.endswith("_s")))
            n += 1
            if error is not None:
                break
            now = time.perf_counter()
            if now + (now - started) > deadline:
                break
        setup["jvm_peak_rss_mb"] = jvm.peak_rss_mb(spark)
        if args.trace and error is None:
            edges = paths.get("edges") or os.path.join(p.workdir, "edges.parquet")
            setup["checkpoint.fingerprint_s"] = wl.fingerprint_seconds(spark, edges)
    finally:
        jvm.stop_spark(spark)
    ticks1 = cpu_ticks()
    steal = (ticks1[0] - ticks0[0]) / max(ticks1[1] - ticks0[1], 1)
    if args.trace:
        with open(f"{run_dir}.spans.json", "w") as f:
            json.dump([{**s, "self_s": tr.self_seconds(s, tracer.spans)} for s in tracer.spans], f)

    if not args.trace:
        values = {name: median_of(passes, name) for name, *_ in metrics.END_TO_END}
        values["setup_s"] = setup["setup_s"]
        units = {name: unit for name, unit, *_ in metrics.END_TO_END}
    else:
        values = {name: median_of(passes, name) for name, *_ in metrics.PER_LAYER}
        for k in ("session.get_spark_s", "session.first_job_s", "checkpoint.fingerprint_s", "jvm_peak_rss_mb"):
            values[k] = setup.get(k, 0.0)
        values["failed_ops_frac"] = failed / attempted
        values["tracing.job_s"] = median_of(passes, "job_s")
        values["run.loadavg_1m"] = loadavg
        values["run.cpu_steal_frac"] = steal
        values["run.shuffle_partitions"] = jvm.SHUFFLE_PARTITIONS
        for span in metrics.SPANS:
            for m, *_ in metrics.SPAN_METRICS:
                got = [p["spark"][span][m] for p in passes if span in p["spark"]]
                values[f"spark.{span}.{m}"] = float(statistics.median(got)) if got else 0.0
        units = {name: unit for name, unit, *_ in metrics.PER_LAYER}
    log(
        f"{args.workload} seed={args.seed}: {len(passes)} passes, {attempted} ops, {failed} failed; "
        f"loadavg {loadavg:.2f} at start, cpu steal {steal:.3f}, {time.perf_counter() - started_run:.1f} s in all"
    )
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": values[k], "unit": units[k]} for k in units},
    }


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=["code_ingest", "hub_skew"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--size", default="full", choices=["full", "tiny"])
    args = p.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "pgs_spark", "session.py")):
        log(f"no pgs_spark package under {ROOT}: run from the repository root")
        return 2
    # The self-test's tiny hub_skew input lowers the salting floor; a full-size
    # run measures the shipped defaults only.
    tuning = sorted(k for k in os.environ if k.startswith("PGS_"))
    if tuning and args.size == "full":
        log(f"PGS_* tuning variables are set ({', '.join(tuning)}); the benchmark measures the defaults")
        return 2

    run_dir = os.path.join(RUNS, f"{args.workload}-s{args.seed}-{os.getpid()}-{uuid.uuid4().hex[:8]}")
    os.makedirs(run_dir)
    os.environ["PGS_SPARK_LOCAL_DIR"] = run_dir
    os.environ["TMPDIR"] = run_dir
    # keep the JVMs' temp files (and their hsperfdata, which ignores
    # java.io.tmpdir) out of the system temp directory
    os.environ["SPARK_SUBMIT_OPTS"] = (
        f"{os.environ.get('SPARK_SUBMIT_OPTS', '')} -Djava.io.tmpdir={run_dir} -XX:-UsePerfData"
    )
    os.environ["SPARK_LAUNCHER_OPTS"] = f"{os.environ.get('SPARK_LAUNCHER_OPTS', '')} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT, HERE, os.environ.get("PYTHONPATH", "")])
    sys.path[:0] = [ROOT, HERE]
    cores = len(os.sched_getaffinity(0))
    try:
        result = bench(args, run_dir, cores)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
