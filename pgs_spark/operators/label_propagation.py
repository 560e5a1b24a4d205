"""Synchronous label propagation with deterministic tie-breaking.

Graft of two reference behaviors:
- PGS_Meshing.stochasticMerge's island pass (PGS_Meshing.java:706-725): seeded
  random labels, then a vertex adopts a neighbor's label — one LPA superstep.
- PGS_Coloring's class assignment (PGS_Coloring.java:236-273): iterative
  neighbor-label aggregation with a pinned seed (SEED=1337) for repeatability.

Tie-break: most frequent neighbor label, then the minimum label — an explicit
deterministic order, because Spark aggregation order is nondeterministic and
the reference explicitly sorts before order-sensitive steps
(PGS_Conversion.java:1087-1088). Convergence = zero label changes (the
GeneticColoring stopping rule: iterate until conflict count is 0,
commons/GeneticColoring.java:41-95), with a max-superstep guard.

Superstep state (|V| label rows) snapshots to parquet via CheckpointManager —
the same off-heap fix PageRank/CC got: checkpointed RDD blocks keep every
superstep's rows deserialized on the heap, where unpersist() cannot free them;
at 20M vertices that produced multi-second Full-GC pauses every superstep. With a
durable ``checkpoint_dir`` the run also resumes mid-convergence (manifest
carries iteration + changed-count; input fingerprint guards cross-input reuse).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from pgs_spark.operators.edges import symmetrize
from pgs_spark.streaming.checkpoint import CheckpointManager, fingerprint_edges


@dataclass
class LPAResult:
    labels: DataFrame  # (id: long, label: long)
    iterations: int
    converged: bool
    history: list = field(default_factory=list)


def label_propagation(
    spark: SparkSession,
    undirected_edges: DataFrame,
    max_iter: int = 10,
    seed: int | None = None,
    n_initial_labels: int | None = None,
    checkpoint_dir: str | None = None,
    weight_col: str | None = None,
) -> LPAResult:
    """LPA over a canonical undirected edge table.

    Default init: label = vertex id (community detection). With `seed` and
    `n_initial_labels`: seeded random labels in [0, n) — the stochasticMerge
    configuration (nClasses + seed, PGS_Meshing.java:693-700).

    ``weight_col`` switches the vote from neighbor COUNT to neighbor weight
    SUM (the reference's weighted graphs, PGS_Conversion.java:933) — same
    deterministic tie-break (max vote, then min label). Integer weights keep
    the vote exact cross-engine.
    """
    if weight_col:
        sym = undirected_edges.select("src", "dst", weight_col).union(
            undirected_edges.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"), weight_col
            )
        ).persist()
    else:
        sym = symmetrize(undirected_edges).persist()
    verts = sym.select(F.col("src").alias("id")).distinct()
    if seed is not None and n_initial_labels:
        labels = verts.select(
            "id",
            F.pmod(F.xxhash64("id", F.lit(seed)), F.lit(n_initial_labels)).alias("label"),
        )
    else:
        labels = verts.select("id", F.col("id").alias("label"))

    durable = checkpoint_dir is not None
    cp = CheckpointManager(
        spark, checkpoint_dir, fingerprint_edges(undirected_edges) if durable else ""
    )
    start_iter = 0
    resumed = cp.resume_point()
    if resumed is not None:
        start_iter, labels, m = resumed
        if m.get("changed", 1) == 0:
            sym.unpersist()
            return LPAResult(labels.select("id", "label"), start_iter, True, [])
    if start_iter == 0:
        labels = cp.save(labels, 0, lineage=False)  # init state off-heap too

    history: list[dict] = []
    converged = False
    iterations = start_iter
    from pgs_spark.session import shuffle_bytes

    for it in range(start_iter + 1, max_iter + 1):
        t0 = time.time()
        sb0 = shuffle_bytes(spark)
        nbr = sym.join(labels, sym.dst == labels.id).select(
            F.col("src").alias("id"),
            "label",
            *([weight_col] if weight_col else []),
        )
        vote = F.sum(weight_col) if weight_col else F.count("*")
        counts = nbr.groupBy("id", "label").agg(vote.alias("cnt"))
        # argmax by (cnt, -label): most frequent, ties to the smallest label.
        best = (
            counts.groupBy("id")
            .agg(F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("nl"))).alias("s"))
            .select("id", (-F.col("s.nl")).alias("new_label"))
        )
        # ONE job per superstep: the changed-count is observed on the snapshot
        # write itself (the old label is already in-row — no second job, no
        # snapshot re-read, no extra join).
        pre = labels.join(best, "id", "left").select(
            "id",
            F.col("label").alias("old_label"),
            F.coalesce("new_label", "label").alias("label"),
        )
        obs = Observation()
        observed = pre.observe(
            obs,
            F.sum((F.col("label") != F.col("old_label")).cast("long")).alias("changed"),
        ).select("id", "label")

        def _metrics():
            # runs after the write job the changed-count is observed on, so
            # the superstep's one manifest carries it
            sb1 = shuffle_bytes(spark)
            history.append({
                "iteration": it,
                "changed": int(obs.get["changed"] or 0),
                "seconds": time.time() - t0,
                "shuffle_write_bytes": sb1[0] - sb0[0],
                "shuffle_read_bytes": sb1[1] - sb0[1],
            })
            return history[-1]

        labels = cp.save(observed, it, lineage=False, metrics_fn=_metrics)
        iterations = it
        cp.prune(keep_last=2)
        if history[-1]["changed"] == 0:
            converged = True
            break
    sym.unpersist()
    return LPAResult(labels.select("id", "label"), iterations, converged, history)
