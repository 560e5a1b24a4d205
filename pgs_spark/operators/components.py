"""Connected components via alternating large-star / small-star (hash-to-min).

Fills the role jgrapht's ConnectivityInspector plays in the reference
(PGS_Meshing.java:736: ``new ConnectivityInspector<>(graph).connectedSets()``
after stochasticMerge cuts cross-label edges). A BFS-based inspector is
inherently sequential; at cluster scale we use the alternating-star algorithm
(Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14):
O(log² n) rounds of pure join+groupBy, each round shrinking edges toward
per-component stars centered on the component's minimum vertex id — which also
satisfies the FIXTURES.md invariant that a component's id IS its min vertex id.

Each round is two shuffles (one per star step); edge sets are deduplicated
between rounds and each round's edge set is a parquet snapshot written through
CheckpointManager, so lineage stays flat, round state stays off-heap, and the
convergence signature rides the snapshot write.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from pgs_spark.streaming.checkpoint import CheckpointManager, fingerprint_edges


def _signature(e: DataFrame) -> tuple[int, int]:
    """Order-insensitive edge-set signature (count, hash-sum) for the
    convergence test — one cheap action instead of a subtract()."""
    row = e.select(
        F.count("*").alias("n"), F.bit_xor(F.xxhash64("u", "v")).alias("h")
    ).first()
    return int(row["n"] or 0), int(row["h"] or 0)


def _large_star(e: DataFrame) -> DataFrame:
    """For each u: connect strictly-larger neighbors to min(Γ(u) ∪ {u})."""
    sym = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = sym.groupBy("u").agg(F.min("v").alias("mv"))
    mins = mins.select("u", F.least("u", "mv").alias("m"))
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Orient edges toward the larger endpoint; connect all smaller neighbors
    (and the larger endpoint itself) to the minimum."""
    oriented = e.select(
        F.greatest("u", "v").alias("k"), F.least("u", "v").alias("v")
    )
    mins = oriented.groupBy("k").agg(F.min("v").alias("m"))
    attach = (
        oriented.join(mins, "k")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
    )
    centers = mins.select(F.col("k").alias("u"), F.col("m").alias("v"))
    return attach.union(centers).distinct()


@dataclass
class ComponentsResult:
    components: DataFrame  # (id: long, component: long) — component = min id
    rounds: int
    history: list = field(default_factory=list)


def connected_components(
    spark: SparkSession,
    edges: DataFrame,
    max_iter: int = 50,
    checkpoint_dir: str | None = None,
) -> ComponentsResult:
    """Edge table (src, dst), any orientation → (id, component).

    component is the minimum vertex id in the component (hash-to-min canonical
    form). Isolated vertices never occur in an edge table; callers with a
    separate vertex set should left-join and coalesce(component, id).

    `checkpoint_dir` makes the run DURABLE (the PageRank/LPA treatment): each
    round's star edge set is written with a manifest carrying the input
    fingerprint, round signature, and per-partition lineage; a restarted call
    with the same dir and input resumes from the newest round instead of
    round 0 — a multi-hour CC at cluster scale survives a driver restart.
    Without it the same rounds go to an ephemeral directory (no fingerprint
    or lineage jobs). The convergence signature rides the checkpoint write
    via observe()."""
    verts = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
        .persist()
    )
    e = (
        edges.filter(F.col("src") != F.col("dst"))
        .select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .distinct()
        .persist()
    )
    durable = checkpoint_dir is not None
    cp = CheckpointManager(
        spark, checkpoint_dir, fingerprint_edges(edges) if durable else ""
    )
    rp = cp.resume_point()
    if rp is None:
        start_round, resumed_converged, sig = 0, False, _signature(e)
    else:
        start_round, e_cp, m = rp
        e.unpersist()
        e = e_cp
        sig = (int(m.get("edges", 0)), int(m.get("sig_h", 0)))
        resumed_converged = bool(m.get("converged", False))
    history = [{"round": start_round, "edges": sig[0]}]
    rounds = start_round
    # Round wall clock on small graphs is stage-scheduling latency, so size
    # the round shuffles to the DATA (8 partitions at small |E|, the session
    # default at cluster scale) — same recipe as coloring/merge_to_k.
    default_p = spark.conf.get("spark.sql.shuffle.partitions")
    round_p = max(8, min(int(default_p), sig[0] // 250_000 + 8))
    # NOTE: this mutates the SESSION-global shuffle width for the duration of
    # the loop (restored in finally). The iterative operators assume exclusive
    # use of the SparkSession while they run — a concurrent query on the same
    # session would be re-planned at round_p. Round state handed onward is
    # materialized (checkpoint/snapshot) before the restore, so no lazy plan
    # escapes with the narrow width.
    spark.conf.set("spark.sql.shuffle.partitions", str(round_p))
    try:
        for rounds in range(start_round + 1, max_iter + 1):
            if resumed_converged:
                rounds = start_round
                break
            new_e = _small_star(_large_star(e))
            # round state: the signature rides the snapshot write
            obs = Observation()
            observed = new_e.observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.bit_xor(F.xxhash64("u", "v")).alias("h"),
            )
            holder = {}

            def _mfn():
                vals = obs.get
                holder["sig"] = (int(vals["n"] or 0), int(vals["h"] or 0))
                return {
                    "edges": holder["sig"][0],
                    "sig_h": holder["sig"][1],
                    "converged": holder["sig"] == sig,
                }

            new_e = cp.save(observed, rounds, metrics_fn=_mfn, lineage=durable)
            cp.prune(keep_last=2)
            new_sig = holder["sig"]
            e.unpersist()
            e = new_e
            history.append({"round": rounds, "edges": new_sig[0]})
            if new_sig == sig:
                break
            sig = new_sig
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", default_p)

    # Converged: e is a star forest (v → component-min). Roots and isolated
    # vertices map to themselves.
    comp = e.groupBy(F.col("u").alias("id")).agg(F.min("v").alias("component"))
    out = (
        verts.join(comp, "id", "left")
        .select("id", F.coalesce("component", "id").alias("component"))
    )
    verts.unpersist()
    return ComponentsResult(out, rounds, history)
