"""merge_to_k — iterative contraction toward a target group count.

Graft of the reference's AreaMerge (commons/AreaMerge.java:48-106: repeatedly
merge the smallest face-group into its smallest neighboring group until
``targetFaceCount`` remains). The sequential rule is one merge per step; the
distributed analog merges ALL non-surviving groups per round, each into its
smallest strictly-larger neighbor:

  round:  keep      = the k largest groups by (size, id)         (top-k, not a
                      global sort — k is the small target count)
          candidate = every other group
          target(g) = argmin_(size,id) { h ∈ N(g) : (size_h,h) > (size_g,g) }
          merge g → target(g); chains resolve by fixed pointer jumping
                      (direction is strictly increasing in (size, id), so the
                      merge mapping is acyclic — jumps terminate)

Monotone: each round strictly reduces the group count but can never drop
below k in one round (every candidate folds into some root that survives),
so the loop converges to ≥ k groups; candidates with no strictly-larger
neighbor (component maxima) survive too, the AreaMerge behavior for isolated
islands. Deterministic: every choice is (size, id)-lexicographic, so a fixed
(rounds, jumps) program is oracle-unrollable — see ``merge_to_k_sql``.

All relational: sizes groupBy, top-k, group-graph join, per-group struct-min,
J self-joins for pointer jumping. Round state snapshots to parquet off-heap.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pgs_spark.operators.state import make_work_dir, snapshot


@dataclass
class MergeToKResult:
    groups: DataFrame  # (id: long, group: long)
    rounds: int
    n_groups: int
    history: list = field(default_factory=list)


def merge_to_k(
    spark: SparkSession,
    undirected_edges: DataFrame,
    k: int,
    max_rounds: int = 10,
    fixed_rounds: int | None = None,
    jumps: int = 3,
    checkpoint_dir: str | None = None,
) -> MergeToKResult:
    """Contract a canonical undirected edge table to ~k vertex groups.

    Starts from singleton groups (every vertex its own group — the
    faces-as-initial-groups start of AreaMerge). `fixed_rounds` runs exactly
    that many rounds (oracle mode); otherwise rounds run until the group
    count reaches k or stops shrinking.
    """
    work_dir = make_work_dir("pgs_mergek_")
    edges = undirected_edges.persist()
    verts = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    m = edges.count()

    # Same driver-loop latency treatment as Jones-Plassmann: per-round wall
    # clock is stages x scheduler latency, so size the round shuffles to the
    # DATA (8 partitions at small |E|, the session default at cluster scale)
    # and keep round state as coalesced localCheckpoints below a threshold
    # (parquet round-trips dominate small graphs; off-heap parquet above it).
    default_p = spark.conf.get("spark.sql.shuffle.partitions")
    round_p = max(8, min(int(default_p), m // 250_000 + 8))
    use_local = m <= int(os.environ.get("PGS_MERGEK_LOCAL_STATE_MAX", "2000000"))

    def _snap(df: DataFrame, name: str) -> DataFrame:
        if use_local:
            return df.coalesce(round_p).localCheckpoint(eager=True)
        return snapshot(df, work_dir, name)

    # Durable mode (checkpoint_dir): the round state is the PAIR
    # (groups, gedges). Crash-safe ordering: groups is snapshotted with
    # manifest=False first, then gedges' save() emits the round's SINGLE
    # manifest carrying groups_path + n_groups — a crash between the two
    # writes leaves the previous round's complete manifest as newest, so
    # resume never sees a half-round. Resume additionally skips (doesn't
    # wedge on) any manifest missing groups_path — e.g. state written by an
    # older build with the superseded-manifest crash window.
    cp = None
    start_round = 0
    resumed = None
    if checkpoint_dir is not None:
        from pgs_spark.streaming.checkpoint import CheckpointManager, fingerprint_edges

        cp = CheckpointManager(
            spark,
            checkpoint_dir,
            f"{fingerprint_edges(undirected_edges)}|k={k}|jumps={jumps}",
        )
        for mm in reversed(cp.manifests()):
            if mm.get("input_fingerprint") != cp.fingerprint:
                break  # different input — all state here is stale
            met = mm.get("metrics") or {}
            if "groups_path" not in met or not os.path.isdir(met["groups_path"]):
                continue  # incomplete pair (crash window) — fall back one round
            start_round = mm["iteration"]
            gedges = cp.load(mm)
            groups = spark.read.parquet(met["groups_path"])
            n_groups = int(met["n_groups"])
            resumed = met
            break
        if resumed is None:
            cp.clear()
    if resumed is None:
        groups = _snap(verts.select("id", F.col("id").alias("g")), "g_0")
        # Group-level edge table, CONTRACTED each round: round r's group
        # adjacency is the image of round r-1's group edges under the merge
        # mapping (transitivity of contraction), so later rounds join a
        # monotonically SHRINKING relation instead of re-joining the full
        # vertex-level edge table against groups every round.
        gedges = _snap(
            edges.select(F.col("src").alias("ga"), F.col("dst").alias("gb")), "ge_0"
        )
        n_groups = groups.select("g").distinct().count()
    history: list[dict] = []
    rounds = start_round
    limit = fixed_rounds if fixed_rounds is not None else max_rounds
    # NOTE: this mutates the SESSION-global shuffle width for the duration of
    # the loop (restored in finally). The iterative operators assume exclusive
    # use of the SparkSession while they run — a concurrent query on the same
    # session would be re-planned at round_p. Round state handed onward is
    # materialized (checkpoint/snapshot) before the restore, so no lazy plan
    # escapes with the narrow width.
    spark.conf.set("spark.sql.shuffle.partitions", str(round_p))
    try:
        for r in range(start_round + 1, limit + 1):
            if fixed_rounds is None and n_groups <= k:
                break
            # Round state is localCheckpointed (no size stats → planner
            # estimates defaultSizeInBytes), so every join of the BIG
            # group-edge relation against the TINY group-level tables
            # (sizes/cand/targets/mapping, all ≤ n_groups rows) planned as
            # SortMergeJoin — shuffling the 2|E|-row gsym twice per round
            # (measured: 3-7s per checkpoint at sf0.1). Under the same
            # small-graph threshold that picks localCheckpoint state, hint
            # the group-level side broadcast; parquet-state scale keeps the
            # shuffle plans.
            _b = F.broadcast if use_local else (lambda df: df)
            sizes = groups.groupBy("g").agg(F.count("*").alias("sz"))
            # per-round cached tables, unpersisted even if the round raises
            mapping = None
            try:
                if use_local:
                    # materialize the ≤n_groups-row table once (persist, NOT a
                    # localCheckpoint — 4 chained checkpoints/round hit the
                    # geometric plan-degradation trap layout.py documents): it
                    # feeds four consumers across this round's jobs (two adj
                    # joins, cand, mapping) and several are broadcast builds —
                    # without this, each build re-runs the groupBy subtree
                    sizes = sizes.persist()
                    sizes.count()
                keep = sizes.orderBy(F.col("sz").desc(), F.col("g").desc()).limit(k)
                cand = sizes.join(_b(keep.select("g")), "g", "left_anti")
                # group-level adjacency, both directions, with sizes on both
                # sides (gedges is canonical loop-free — maintained below; no
                # distinct: the per-group struct-MIN below is dup-insensitive)
                gsym = gedges.union(
                    gedges.select(F.col("gb").alias("ga"), F.col("ga").alias("gb"))
                )
                adj = (
                    gsym.join(_b(sizes.select(F.col("g").alias("ga"), F.col("sz").alias("sza"))), "ga")
                    .join(_b(sizes.select(F.col("g").alias("gb"), F.col("sz").alias("szb"))), "gb")
                )
                targets = (
                    adj.join(_b(cand.select(F.col("g").alias("ga"))), "ga", "left_semi")
                    .filter(
                        (F.col("szb") > F.col("sza"))
                        | ((F.col("szb") == F.col("sza")) & (F.col("gb") > F.col("ga")))
                    )
                    .groupBy("ga")
                    .agg(F.min(F.struct(F.col("szb"), F.col("gb"))).alias("t"))
                    .select(F.col("ga").alias("g"), F.col("t.gb").alias("tgt"))
                )
                # total mapping with identity default, then J pointer jumps
                mapping = sizes.select("g").join(_b(targets), "g", "left").select(
                    "g", F.coalesce("tgt", F.col("g")).alias("tgt")
                )
                for _ in range(jumps):
                    nxt = mapping.select(F.col("g").alias("tgt"), F.col("tgt").alias("tgt2"))
                    mapping = mapping.join(_b(nxt), "tgt").select(
                        "g", F.col("tgt2").alias("tgt")
                    )
                if use_local:
                    # the resolved mapping feeds three broadcast builds (groups
                    # relabel, ma, mb) — materialize its subtree (which contains
                    # the full adj aggregation) exactly once
                    mapping = mapping.persist()
                    mapping.count()
                # explicit rename, not `groups.g == mapping.g`: once both sides
                # are checkpointed their `g` attributes share an exprId and the
                # qualified condition degenerates to a trivially-true predicate
                # (cross join) — the rename keeps the equi-join unambiguous
                new_groups = groups.join(
                    _b(mapping.select(F.col("g").alias("mg"), "tgt")),
                    F.col("g") == F.col("mg"),
                ).select("id", F.col("tgt").alias("g"))
                ma = mapping.select(F.col("g").alias("ga"), F.col("tgt").alias("ta"))
                mb = mapping.select(F.col("g").alias("gb"), F.col("tgt").alias("tb"))
                new_gedges = (
                    gedges.join(_b(ma), "ga")
                    .join(_b(mb), "gb")
                    .select(
                        F.least("ta", "tb").alias("ga"),
                        F.greatest("ta", "tb").alias("gb"),
                    )
                    .filter(F.col("ga") != F.col("gb"))
                    .distinct()
                )
                if cp is not None:
                    # groups first, manifest=False: no manifest exists for round r
                    # until BOTH snapshots are on disk (crash → resume at r-1)
                    groups = cp.save(new_groups, r, lineage=False, suffix="g", manifest=False)
                    if fixed_rounds is None:
                        n_groups = groups.select("g").distinct().count()
                    gedges = cp.save(
                        new_gedges,
                        r,
                        suffix="e",
                        metrics={
                            "groups_path": groups._pgs_snapshot_path,
                            "n_groups": n_groups,
                            "converged": fixed_rounds is None and n_groups <= k,
                        },
                        lineage=False,
                    )
                    _gc_orphan_states(cp)
                else:
                    groups = _snap(new_groups, f"g_{r % 2}")
                    gedges = _snap(new_gedges, f"ge_{r % 2}")
                    if fixed_rounds is None:
                        # stop test costs one distinct-count per round — skipped
                        # in fixed-round (oracle) mode
                        n_groups = groups.select("g").distinct().count()
            finally:
                if use_local:
                    sizes.unpersist()
                    if mapping is not None:
                        mapping.unpersist()
            rounds = r
            if fixed_rounds is None:
                history.append({"round": r, "n_groups": n_groups})
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", default_p)
        edges.unpersist()
    if fixed_rounds is not None:
        n_groups = groups.select("g").distinct().count()
    return MergeToKResult(groups.select("id", F.col("g").alias("group")), rounds, n_groups, history)



def _gc_orphan_states(cp, keep_last: int = 2) -> None:
    """Bounded storage for PAIRED checkpoints: prune() tracks one path per
    manifest, so the suffix-superseded groups snapshots would leak — drop
    every state dir not referenced by a surviving manifest's path or
    groups_path metric."""
    import json as _json
    import shutil as _shutil

    cp.prune(keep_last=keep_last)
    keep = set()
    for name in os.listdir(cp.dir):
        if name.startswith("manifest_"):
            with open(os.path.join(cp.dir, name)) as f:
                m = _json.load(f)
            keep.add(os.path.basename(m.get("path", "")))
            gp = (m.get("metrics") or {}).get("groups_path", "")
            if gp:
                keep.add(os.path.basename(gp))
    for name in os.listdir(cp.dir):
        if name.startswith("state_") and name not in keep:
            _shutil.rmtree(os.path.join(cp.dir, name), ignore_errors=True)


def merge_to_k_sql(edges_sql: str, k: int, rounds: int, jumps: int = 3) -> str:
    """Unrolled DuckDB oracle: the identical fixed-round, fixed-jump program.
    Emits per-group sizes (group, n_vertices)."""
    parts = [
        f"e AS MATERIALIZED ({edges_sql})",
        "verts AS MATERIALIZED (SELECT DISTINCT id FROM "
        "(SELECT src AS id FROM e UNION ALL SELECT dst FROM e) t)",
        "g0 AS MATERIALIZED (SELECT id, id AS g FROM verts)",
    ]
    prev = "g0"
    for r in range(1, rounds + 1):
        parts += [
            f"sz{r} AS MATERIALIZED (SELECT g, COUNT(*) AS sz FROM {prev} GROUP BY g)",
            f"keep{r} AS (SELECT g FROM sz{r} ORDER BY sz DESC, g DESC LIMIT {k})",
            f"cand{r} AS (SELECT g FROM sz{r} WHERE g NOT IN (SELECT g FROM keep{r}))",
            f"gp{r} AS (SELECT DISTINCT a.g AS ga, b.g AS gb FROM e "
            f"JOIN {prev} a ON e.src = a.id JOIN {prev} b ON e.dst = b.id "
            f"WHERE a.g <> b.g)",
            f"gs{r} AS MATERIALIZED (SELECT ga, gb FROM gp{r} "
            f"UNION SELECT gb, ga FROM gp{r})",
            f"adj{r} AS (SELECT s.ga, s.gb, x.sz AS sza, y.sz AS szb FROM gs{r} s "
            f"JOIN sz{r} x ON s.ga = x.g JOIN sz{r} y ON s.gb = y.g)",
            f"tg{r} AS MATERIALIZED (SELECT ga AS g, gb AS tgt FROM ("
            f"SELECT ga, gb, ROW_NUMBER() OVER (PARTITION BY ga ORDER BY szb, gb) AS rn "
            f"FROM adj{r} WHERE ga IN (SELECT g FROM cand{r}) "
            f"AND (szb > sza OR (szb = sza AND gb > ga))) t WHERE rn = 1)",
            f"m{r}_0 AS MATERIALIZED (SELECT s.g, COALESCE(t.tgt, s.g) AS tgt "
            f"FROM sz{r} s LEFT JOIN tg{r} t ON s.g = t.g)",
        ]
        # squaring composition (map^(2^j)) — identical to the engine's loop
        for j in range(1, jumps + 1):
            parts.append(
                f"m{r}_{j} AS MATERIALIZED (SELECT a.g, b.tgt FROM m{r}_{j-1} a "
                f"JOIN m{r}_{j-1} b ON a.tgt = b.g)"
            )
        parts.append(
            f"g{r} AS MATERIALIZED (SELECT p.id, m.tgt AS g FROM {prev} p "
            f"JOIN m{r}_{jumps} m ON p.g = m.g)"
        )
        prev = f"g{r}"
    return (
        "WITH "
        + ",\n".join(parts)
        + f"\nSELECT g AS \"group\", COUNT(*) AS n_vertices FROM {prev} GROUP BY g"
    )
