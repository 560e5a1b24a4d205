"""stochasticMerge — the reference's hero pipeline, end to end.

Graft of PGS_Meshing.stochasticMerge (PGS_Meshing.java:693-741):
  1. deterministic initial class labels per vertex       (699-700)
  2. one island-reassignment pass: a vertex with no same-label neighbor
     adopts its neighbors' modal label                   (706-725)
  3. cut cross-label edges                               (727-735)
  4. connected components of what remains                (736)
  5. per-component aggregation                           (738)

Each stage is one of this engine's primitives (LPA step, edge filter, CC,
groupBy), so the pipeline doubles as an integration test of the whole stack.
`seed=None` uses label = id % n_classes (cross-engine oracle-checkable);
a seed switches to xxhash64 labels (the XoRoShiRo-seeded path of the
reference).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pgs_spark.operators.components import connected_components
from pgs_spark.operators.edges import symmetrize


def _initial_labels(verts: DataFrame, n_classes: int, seed: int | None) -> DataFrame:
    if seed is None:
        lab = F.pmod(F.col("id"), F.lit(n_classes))
    else:
        lab = F.pmod(F.xxhash64("id", F.lit(seed)), F.lit(n_classes))
    return verts.select("id", lab.alias("label"))


def island_pass(sym: DataFrame, labels: DataFrame) -> DataFrame:
    """One island-reassignment superstep: vertices with zero same-label
    neighbors take the modal neighbor label (ties → min label)."""
    nbr = sym.join(labels, sym.dst == labels.id).select(
        F.col("src").alias("id"), F.col("label").alias("nbr_label")
    )
    counts = nbr.groupBy("id", "nbr_label").agg(F.count("*").alias("cnt"))
    modal = (
        counts.groupBy("id")
        .agg(F.max(F.struct(F.col("cnt"), (-F.col("nbr_label")).alias("nl"))).alias("s"))
        .select("id", (-F.col("s.nl")).alias("modal_label"))
    )
    same = (
        counts.join(labels, "id")
        .filter(F.col("nbr_label") == F.col("label"))
        .select("id")
        .distinct()
        .withColumn("has_same", F.lit(1))
    )
    return (
        labels.join(modal, "id", "left")
        .join(same, "id", "left")
        .select(
            "id",
            F.when(
                F.col("has_same").isNull() & F.col("modal_label").isNotNull(),
                F.col("modal_label"),
            )
            .otherwise(F.col("label"))
            .alias("label"),
        )
    )


def stochastic_merge(
    spark: SparkSession,
    undirected_edges: DataFrame,
    n_classes: int,
    seed: int | None = None,
) -> DataFrame:
    """(component, n_vertices, label): merged groups after label-cut-CC.

    component = min vertex id of the merged group (hash-to-min canonical)."""
    sym = symmetrize(undirected_edges).persist()
    verts = sym.select(F.col("src").alias("id")).distinct()
    labels = _initial_labels(verts, n_classes, seed)
    labels = island_pass(sym, labels).persist()

    kept = (
        undirected_edges.join(
            labels.select(F.col("id").alias("src"), F.col("label").alias("ls")), "src"
        )
        .join(labels.select(F.col("id").alias("dst"), F.col("label").alias("ld")), "dst")
        .filter(F.col("ls") == F.col("ld"))
        .select("src", "dst")
    )
    comp = connected_components(spark, kept).components
    # vertices whose every edge was cut become singleton components
    all_comp = (
        labels.join(comp, "id", "left")
        .select("id", F.coalesce("component", "id").alias("component"), "label")
    )
    out = all_comp.groupBy("component").agg(
        F.count("*").alias("n_vertices"), F.min("label").alias("label")
    )
    sym.unpersist()
    return out


def kcore(
    spark: SparkSession,
    undirected_edges: DataFrame,
    k: int = 2,
    rounds: int | None = 5,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """Iterative degree-< k peeling — the dangle-removal loop of
    FastPolygonizer (commons/FastPolygonizer.java:70-80 prunes degree-1
    vertices until none remain). Fixed `rounds` keeps it oracle-unrollable;
    ``rounds=None`` peels to the true k-core fixed point (edge-count
    convergence test, one cheap action per round — the FastPolygonizer
    until-none-remain semantics).

    Per-round edge state snapshots to parquet (off-heap, alternating two
    paths) — the same GC fix PageRank/CC got; localCheckpoint pinned every
    round's |E| rows on-heap.

    `checkpoint_dir` makes the run DURABLE (the PageRank/CC treatment): each
    peel round's surviving edge set is written with a fingerprinted manifest
    and a restarted call resumes mid-peel; the round's edge count rides the
    checkpoint write via observe().

    Returns the surviving canonical edge set."""
    from pgs_spark.operators.state import make_work_dir, snapshot

    cp = None
    start_round = 0
    e = undirected_edges
    converge = rounds is None
    prev_n = e.count() if converge else None
    if checkpoint_dir is not None:
        from pgs_spark.streaming.checkpoint import CheckpointManager, fingerprint_edges

        cp = CheckpointManager(
            spark,
            checkpoint_dir,
            f"{fingerprint_edges(undirected_edges)}|k={k}|rounds={rounds}",
        )
        rp = cp.resume_point()
        if rp is not None:
            start_round, e, m = rp
            if m.get("converged"):
                return e
            prev_n = int(m["edges"]) if converge else None
    work_dir = None if cp is not None else make_work_dir("pgs_kcore_")
    limit = 10_000 if converge else rounds  # |E| shrinks every live round
    for r in range(start_round, limit):
        deg = (
            symmetrize(e).groupBy(F.col("src").alias("id")).agg(F.count("*").alias("d"))
        )
        keep = deg.filter(F.col("d") >= k).select("id")
        survived = (
            e.join(keep.select(F.col("id").alias("src")), "src")
            .join(keep.select(F.col("id").alias("dst")), "dst")
            .select("src", "dst")
        )
        if cp is not None:
            from pyspark.sql import Observation

            obs = Observation()
            observed = survived.observe(obs, F.count(F.lit(1)).alias("n"))
            holder = {}

            def _mfn(obs=obs, holder=holder, prev_n=prev_n):
                n = int(obs.get["n"] or 0)
                holder["n"] = n
                return {"edges": n, "converged": converge and n == prev_n}

            e = cp.save(observed, r + 1, metrics_fn=_mfn, lineage=False)
            cp.prune(keep_last=2)
            if converge:
                if holder["n"] == prev_n:
                    break
                prev_n = holder["n"]
            continue
        e = snapshot(survived, work_dir, f"edges_{r % 2}")
        if converge:
            n = e.count()
            if n == prev_n:
                break
            prev_n = n
    return e


def score_peel(
    spark: SparkSession,
    weighted_edges: DataFrame,
    s: int = 2,
    rounds: int = 3,
    weight_col: str = "weight",
) -> DataFrame:
    """s-core: iterative strength-< s peeling — kcore's weighted twin
    (Eidsaa–Almaas 2013) for the reference's weighted graphs
    (PGS_Conversion.setEdgeWeight, PGS_Conversion.java:933). Per round,
    vertices whose STRENGTH (Σ incident weight) is below s drop with their
    edges; fixed ``rounds`` keeps the program oracle-unrollable (the kcore
    discipline). Integer weights keep every strength sum exact.

    Input must be canonical undirected (src, dst, weight). Returns the
    surviving weighted edge set. Same per-round shape as kcore: one
    map-side-combinable strength aggregation + two semi-joins; state
    snapshots to parquet (off-heap, alternating names)."""
    from pgs_spark.operators.state import make_work_dir, snapshot

    work_dir = make_work_dir("pgs_score_")
    e = weighted_edges.select("src", "dst", F.col(weight_col).alias("weight"))
    for r in range(rounds):
        sym_w = e.select(F.col("src").alias("id"), "weight").unionByName(
            e.select(F.col("dst").alias("id"), "weight")
        )
        keep = (
            sym_w.groupBy("id")
            .agg(F.sum("weight").alias("strength"))
            .filter(F.col("strength") >= s)
            .select("id")
        )
        e = snapshot(
            e.join(keep.withColumnRenamed("id", "src"), "src", "left_semi").join(
                keep.withColumnRenamed("id", "dst"), "dst", "left_semi"
            ).select("src", "dst", "weight"),
            work_dir,
            f"e_{r % 2}",
        )
    return e


def coreness_hindex(
    spark: SparkSession,
    undirected_edges: DataFrame,
    rounds: int = 4,
) -> DataFrame:
    """Per-vertex CORE NUMBER via the iterated neighbor h-index.

    kcore() answers "which edges survive the k-core?" for ONE k; the full
    decomposition (every vertex's core number — the reference consumes it
    wherever FastPolygonizer's peel loop classifies vertices by how deep
    they survive) is the fixed point of the h-index operator (Lu, Chen,
    Zhou, Stanley 2016, "The H-index of a network node"): start from
    value_0 = degree and repeatedly set

        value_{t+1}(v) = H({ value_t(u) : u ~ v })

    where H of a multiset is the largest h such that at least h elements
    are >= h. The sequence is monotone non-increasing and converges to the
    core number; distributed peeling by contrast is inherently sequential
    in k. Fixed ``rounds`` keeps the program oracle-unrollable (the kcore
    discipline): both engines run the identical t rounds, so they agree
    even before the fixed point.

    Plan per round: symmetrized edges join current values (shuffle on v),
    per-vertex rank of neighbor values (window over the vertex's adjacency
    — bounded by max degree; hubs of degree d rank d rows, the same bound
    as every gather in this engine), then H = max(min(rank, value)) as a
    map-side-combinable aggregate. All arithmetic is integer — exact
    cross-engine parity, no rounding anywhere.

    Returns (id, coreness).
    """
    from pyspark.sql import Window

    from pgs_spark.operators.state import make_work_dir, snapshot

    work_dir = make_work_dir("pgs_coreness_")
    sym = symmetrize(
        undirected_edges.select("src", "dst").filter(F.col("src") != F.col("dst")).distinct()
    ).select(F.col("src").alias("u"), F.col("dst").alias("v"))
    sym = snapshot(sym, work_dir, "sym")
    vals = sym.groupBy(F.col("u").alias("id")).agg(F.count("*").alias("val"))
    w = Window.partitionBy("u").orderBy(F.desc("val"), F.asc("v"))
    for r in range(rounds):
        nbr = sym.join(vals.select(F.col("id").alias("v"), "val"), "v")
        ranked = nbr.withColumn("rn", F.row_number().over(w))
        vals = (
            ranked.groupBy(F.col("u").alias("id"))
            .agg(F.max(F.least(F.col("rn").cast("long"), F.col("val"))).alias("val"))
        )
        vals = snapshot(vals, work_dir, f"vals_{r % 2}")
    return vals.select("id", F.col("val").alias("coreness"))


def coreness_hindex_sql(edges_sql: str, rounds: int = 4) -> str:
    """Unrolled DuckDB oracle: the identical fixed-round h-index iteration."""
    parts = [
        f"eraw AS ({edges_sql})",
        "e0 AS MATERIALIZED (SELECT DISTINCT src, dst FROM eraw WHERE src <> dst)",
        "sym AS MATERIALIZED (SELECT src AS u, dst AS v FROM e0 "
        "UNION ALL SELECT dst, src FROM e0)",
        "val0 AS MATERIALIZED (SELECT u AS id, COUNT(*) AS val FROM sym GROUP BY u)",
    ]
    prev = "val0"
    for r in range(1, rounds + 1):
        parts.append(
            f"val{r} AS MATERIALIZED (SELECT u AS id, "
            f"MAX(LEAST(rn, val)) AS val FROM ("
            f"SELECT s.u, p.val, ROW_NUMBER() OVER "
            f"(PARTITION BY s.u ORDER BY p.val DESC, s.v ASC) AS rn "
            f"FROM sym s JOIN {prev} p ON s.v = p.id) t GROUP BY u)"
        )
        prev = f"val{r}"
    return "WITH " + ",\n".join(parts) + f"\nSELECT id, val AS coreness FROM {prev}"


def densest_subgraph(
    spark: SparkSession,
    undirected_edges: DataFrame,
    rounds: int = 8,
    factor_num: int = 3,
    factor_den: int = 2,
) -> DataFrame:
    """Approximate DENSEST SUBGRAPH via parallel greedy peeling — the
    density-seeking sibling of kcore()'s fixed-threshold peel (the same
    FastPolygonizer dangle-removal loop, commons/FastPolygonizer.java:70-80,
    with the threshold re-derived from the surviving graph each round).

    Algorithm (Bahmani, Kumar, Vassilvitskii, VLDB 2012 — the MapReduce
    densest-subgraph paper; Charikar 2000 greedy made parallel): each round
    removes EVERY vertex whose degree is at most (1+eps) times the current
    average degree 2m/n, where 1+eps = factor_num/factor_den; the answer is
    the round-start subgraph with the best edge/vertex density seen. With
    enough rounds to drain the graph this is a 2(1+eps)-approximation; a
    fixed ``rounds`` budget (the kcore oracle-unrolling discipline) returns
    the best prefix examined — still a subgraph whose density is a certified
    lower bound, with both bounds disclosed parameters.

    DETERMINISM: the removal predicate is pure-integer cross-multiplication
    (deg * n * factor_den <= 2m * factor_num — no division anywhere), the
    best-round key is m * 10^12 // n (floor division on exact integers,
    ties to the EARLIEST round), and the reported density is micro-units
    m * 10^6 // n — bit-exact against the unrolled DuckDB twin
    (densest_sql), no epsilon.

    Scale shape: each round is one symmetrized degree count plus two
    semi-join-shaped filters of the edge table — identical to kcore's
    per-round plan; (m, n) ride back as ONE scalar aggregate row per round
    (never a data-sized collect). Guaranteed progress: the minimum-degree
    vertex always falls at or below (1+eps) * average, so each live round
    strictly shrinks the graph and O(log_{1+eps} n) rounds drain it.

    Vertex-set convention: V_r = endpoints of the surviving edge set (a
    peeled vertex takes its edges with it; isolated vertices carry no edges
    and leave density undefined upward) — disclosed, matched by the oracle.

    Returns (id, density_micro): the vertex set of the best subgraph, each
    row stamped with its density in micro-units.
    """
    from pgs_spark.operators.state import make_work_dir, snapshot

    work_dir = make_work_dir("pgs_densest_")
    e = snapshot(
        undirected_edges.select("src", "dst")
        .filter(F.col("src") != F.col("dst"))
        .distinct(),
        work_dir,
        "e_0",
    )
    snaps: list[DataFrame] = [e]
    stats: list[tuple[int, int, int]] = []  # (round, m, n)
    for r in range(rounds + 1):
        deg = (
            symmetrize(e)
            .groupBy(F.col("src").alias("id"))
            .agg(F.count("*").alias("d"))
        )
        row = deg.agg(
            F.count("*").alias("n"), F.coalesce(F.sum("d"), F.lit(0)).alias("twom")
        ).collect()[0]
        n, m = int(row["n"]), int(row["twom"]) // 2
        stats.append((r, m, n))
        if m == 0 or r == rounds:
            break
        keep = deg.filter(
            F.col("d") * F.lit(n) * F.lit(factor_den)
            > F.lit(2 * m * factor_num)
        ).select("id")
        e = snapshot(
            e.join(keep.select(F.col("id").alias("src")), "src")
            .join(keep.select(F.col("id").alias("dst")), "dst")
            .select("src", "dst"),
            work_dir,
            f"e_{r + 1}",
        )
        snaps.append(e)
    live = [(r, m, n) for r, m, n in stats if n > 0]
    if not live:
        return spark.createDataFrame([], "id long, density_micro long")
    best_r, best_m, best_n = min(live, key=lambda t: (-(t[1] * 10**12 // t[2]), t[0]))
    best_e = snaps[best_r]
    verts = (
        best_e.select(F.col("src").alias("id"))
        .union(best_e.select(F.col("dst").alias("id")))
        .distinct()
    )
    return verts.select(
        "id", F.lit(best_m * 10**6 // best_n).cast("long").alias("density_micro")
    )


def densest_sql(
    edges_sql: str, rounds: int = 8, factor_num: int = 3, factor_den: int = 2
) -> str:
    """Unrolled DuckDB oracle for densest_subgraph: identical fixed-round
    peel, integer cross-multiplied removal, HUGEINT-keyed best round."""
    parts = [
        f"eraw AS ({edges_sql})",
        "e0 AS MATERIALIZED (SELECT DISTINCT src, dst FROM eraw WHERE src <> dst)",
    ]
    for r in range(rounds + 1):
        parts.append(
            f"d{r} AS MATERIALIZED (SELECT u AS id, COUNT(*) AS d FROM "
            f"(SELECT src AS u FROM e{r} UNION ALL SELECT dst FROM e{r}) s{r} "
            f"GROUP BY u)"
        )
        parts.append(
            f"st{r} AS (SELECT COUNT(*) AS n, "
            f"CAST(COALESCE(SUM(d), 0) // 2 AS BIGINT) AS m FROM d{r})"
        )
        if r < rounds:
            parts.append(
                f"e{r + 1} AS MATERIALIZED (SELECT e.src, e.dst FROM e{r} e "
                f"JOIN (SELECT id FROM d{r}, st{r} "
                f"WHERE d * n * {factor_den} > 2 * m * {factor_num}) ka "
                f"ON e.src = ka.id "
                f"JOIN (SELECT id FROM d{r}, st{r} "
                f"WHERE d * n * {factor_den} > 2 * m * {factor_num}) kb "
                f"ON e.dst = kb.id)"
            )
    stats_union = " UNION ALL ".join(
        f"SELECT {r} AS r, m, n FROM st{r}" for r in range(rounds + 1)
    )
    verts_union = " UNION ALL ".join(
        f"SELECT {r} AS r, src AS id FROM e{r} "
        f"UNION ALL SELECT {r}, dst FROM e{r}"
        for r in range(rounds + 1)
    )
    parts += [
        f"stats AS ({stats_union})",
        "best AS (SELECT r, m, n FROM stats WHERE n > 0 "
        "ORDER BY CAST(m AS HUGEINT) * 1000000000000 // n DESC, r ASC LIMIT 1)",
        f"allv AS (SELECT DISTINCT r, id FROM ({verts_union}) vu)",
    ]
    return (
        "WITH " + ",\n".join(parts)
        + "\nSELECT v.id, CAST(CAST(b.m AS HUGEINT) * 1000000 // b.n AS BIGINT)"
        + " AS density_micro FROM allv v JOIN best b ON v.r = b.r"
    )
