"""Graph ranking over edge lists (integer fixed-point PageRank).

Beyond-reference training-pipeline operator (task mandate): ranking the
link graph of a web corpus — which domains/hosts deserve crawl budget
and which are link farms — is a standard upstream signal for corpus
quality gates (domain_gate consumes the verdicts).  The repo's other
graph operators (connected components, watershed pointer doubling,
flow-accumulation path closure) label structure; this one scores it.

Why fixed-point: float PageRank is summation-order-dependent — the same
graph yields different last-ulp ranks per partitioning, so results
can't be hash-compared across engines or reruns.  Scaling ranks to a
2^30 integer grid and doing every division as BIGINT DIV makes each
iteration a pure integer function of the previous one: Spark, DuckDB,
or a re-run with different parallelism produce bit-identical ranks.
The price is documented mass leakage (floor divisions and dangling
nodes drop mass instead of redistributing); ORDERING quality is
unaffected for ranking use.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .fixpoint import checkpoint, iterate, materialized

PR_SCALE = 2 ** 30


def pagerank_fixed(edges: DataFrame, iters: int = 5,
                   damp_num: int = 85, damp_den: int = 100,
                   src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """Integer fixed-point PageRank over a directed edge list.

    Nodes = every id appearing as src or dst; duplicate edges count as
    parallel links (weight = multiplicity).  Per iteration, entirely
    in int64:

        share(u)  = pr(u) DIV out(u)
        pr'(v)    = base + (damp_num * sum_in(v) share) DIV damp_den
        base      = ((damp_den - damp_num) * PR_SCALE DIV damp_den)
                      DIV n

    Dangling nodes keep receiving base but their own mass leaks (no
    redistribution) — deterministic, documented, and irrelevant to
    rank ORDER.  Returns (node, pr, out_deg, in_deg) with pr on the
    2^30 grid.

    Shape: out-degrees computed once; each iteration is one
    edges-to-ranks equi-join + one groupBy on dst + one left join back
    to the node set (nodes with no in-links get bare base).  The rank
    table is one row per node — at web scale partition both sides by
    node id and the join co-locates; `iters` is small and fixed (the
    classic 5-20, no early stop), so total cost is iters * one-shuffle."""
    e = edges.select(F.col(src_col).cast("long").alias("src"),
                     F.col(dst_col).cast("long").alias("dst"))
    nodes = (e.select(F.col("src").alias("node"))
              .unionByName(e.select(F.col("dst").alias("node")))
              .distinct())
    out_deg = e.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("long").alias("out_deg"))
    in_deg = e.groupBy(F.col("dst").alias("node")).agg(
        F.count("*").cast("long").alias("in_deg"))
    n_nodes = nodes.count()
    base = ((damp_den - damp_num) * PR_SCALE // damp_den) // n_nodes
    init = PR_SCALE // n_nodes

    with materialized(out_deg) as deg:
        def step(pr: DataFrame) -> DataFrame:
            contrib = (e.join(pr, e.src == pr.node)
                        .join(deg, pr.node == deg.node)
                        .select(F.col("dst").alias("node"),
                                F.expr("pr DIV out_deg").alias("share")))
            summed = contrib.groupBy("node").agg(
                F.sum("share").cast("long").alias("s"))
            return (nodes.join(summed, ["node"], "left")
                         .select("node",
                                 (F.lit(base)
                                  + F.expr(f"({damp_num} * coalesce(s, 0)) "
                                           f"DIV {damp_den}"))
                                 .cast("long").alias("pr")))

        pr, _ = iterate(nodes.withColumn("pr", F.lit(init).cast("long")),
                        step, [F.sum("pr").alias("rank_mass")], iters,
                        until=lambda prev, cur: False, name="pagerank_fixed")
        with materialized(pr):
            return checkpoint(
                pr.join(out_deg, ["node"], "left")
                  .join(in_deg, ["node"], "left")
                  .select("node", "pr",
                          F.coalesce("out_deg", F.lit(0)).alias("out_deg"),
                          F.coalesce("in_deg", F.lit(0)).alias("in_deg")))


def triangle_count(edges: DataFrame, src_col: str = "src",
                   dst_col: str = "dst") -> DataFrame:
    """Per-node triangle participation + local clustering coefficient
    over an undirected edge list — the standard graph-quality signal a
    link-graph pipeline runs next to PageRank (link farms show huge
    degree with near-zero closure; organic communities close their
    wedges).

    Exact and engine-reproducible: edges are canonicalized (self-loops
    dropped, (min,max) dedup), then ORIENTED from the lexicographically
    smaller (degree, node) endpoint to the larger — the classic
    skew-killer: every triangle materializes exactly once, and the
    oriented out-degree is O(sqrt(m)) even on power-law graphs, so the
    wedge join cannot blow up on a celebrity node.  The clustering
    coefficient ships as the repo's exact-rational DIV idiom
    (lcc_q20 = (2*triangles << 20) DIV (deg*(deg-1))) — no doubles.

    Shape at scale: two equi-joins on node keys (wedge build + wedge
    close), both shuffle-partitioned; per-node counts one further
    groupBy.  Returns (node, degree, triangles, lcc_q20) for every
    node of the canonical edge set."""
    e = (edges.select(F.col(src_col).cast("long").alias("a"),
                      F.col(dst_col).cast("long").alias("b"))
              .filter(F.col("a") != F.col("b"))
              .select(F.least("a", "b").alias("u"),
                      F.greatest("a", "b").alias("v"))
              .distinct())
    deg = (e.select(F.col("u").alias("node"))
            .unionAll(e.select(F.col("v").alias("node")))
            .groupBy("node").agg(F.count("*").cast("long").alias("deg")))
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    ed = e.join(du, "u").join(dv, "v")
    lower_u = (F.col("du") < F.col("dv")) | \
        ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v")))
    oriented = ed.select(
        F.when(lower_u, F.col("u")).otherwise(F.col("v")).alias("x"),
        F.when(lower_u, F.col("v")).otherwise(F.col("u")).alias("y"))
    w1 = oriented.select(F.col("x").alias("n1"), F.col("y").alias("n2"))
    w2 = oriented.select(F.col("x").alias("n2"), F.col("y").alias("n3"))
    wedges = w1.join(w2, "n2")
    closing = oriented.select(F.col("x").alias("n1"),
                              F.col("y").alias("n3"))
    tris = wedges.join(closing, ["n1", "n3"])
    per_node = (tris.select(F.explode(F.array("n1", "n2", "n3"))
                             .alias("node"))
                    .groupBy("node")
                    .agg(F.count("*").cast("long").alias("triangles")))
    out = deg.join(per_node, "node", "left").select(
        "node", F.col("deg").alias("degree"),
        F.coalesce("triangles", F.lit(0)).cast("long").alias("triangles"))
    return out.select(
        "node", "degree", "triangles",
        F.when(F.col("degree") >= 2,
               F.expr("(2 * triangles * 1048576) "
                      "DIV (degree * (degree - 1))"))
         .otherwise(F.lit(0)).cast("long").alias("lcc_q20"))


def kcore(edges: DataFrame, k: int = 3, src_col: str = "src",
          dst_col: str = "dst", max_rounds: int = 16) -> DataFrame:
    """k-core decomposition at a fixed k: iteratively peel every node
    whose degree has fallen below k until the remainder is stable —
    the classic link-graph quality core (crawl-frontier pruning keeps
    the k-core; spam shells and dead-end tendrils peel away in the
    first rounds, organic hubs survive).  Completes the graph family:
    PageRank scores, triangles close, components label, k-core prunes.

    Exact and engine-reproducible: each round removes ALL sub-k nodes
    simultaneously (the standard synchronous peel), so the surviving
    edge set after round r is a pure function of the input — no
    ordering, no floats.  The loop runs to FIXPOINT (bounded by
    max_rounds); the oracle twin unrolls the same rounds as a CTE
    chain, and extra unrolled rounds past the fixpoint are no-ops, so
    any unroll depth >= the true peel depth hash-matches.

    Shape at scale: per round one degree aggregate + two semi-joins,
    all keyed on node ids; edges only leave, so the edge count
    observed on each round's checkpoint job is the fixpoint test.
    Returns (node, core_degree) for the members of the k-core —
    core_degree >= k by construction; empty when the graph has no
    k-core."""
    alive = (edges.select(F.col(src_col).cast("long").alias("a"),
                          F.col(dst_col).cast("long").alias("b"))
                  .filter(F.col("a") != F.col("b"))
                  .select(F.least("a", "b").alias("u"),
                          F.greatest("a", "b").alias("v"))
                  .distinct())

    def degree(alive: DataFrame) -> DataFrame:
        return (alive.select(F.col("u").alias("node"))
                     .unionAll(alive.select(F.col("v").alias("node")))
                     .groupBy("node")
                     .agg(F.count("*").cast("long").alias("deg")))

    def peel(alive: DataFrame) -> DataFrame:
        keep = degree(alive).filter(F.col("deg") >= k).select("node")
        return (alive.join(keep.withColumnRenamed("node", "u"), "u",
                           "left_semi")
                     .join(keep.withColumnRenamed("node", "v"), "v",
                           "left_semi")
                     .select("u", "v"))

    alive, _ = iterate(alive, peel, [F.count("*").alias("edges")],
                       max_rounds, name="kcore")
    return degree(alive).withColumnRenamed("deg", "core_degree")


def label_propagation(edges: DataFrame, rounds: int = 4,
                      src_col: str = "src",
                      dst_col: str = "dst") -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation with a
    deterministic tie-break — the cheap community pass a link-graph
    pipeline runs after PageRank/k-core (mirror farms and topic
    clusters condense onto one label within a few sweeps).

    Classic LPA is run-order-dependent (asynchronous updates, random
    tie-breaks); this one is a pure function of the input: every node
    simultaneously adopts the most frequent label among its neighbors,
    ties to the SMALLEST label, for exactly `rounds` sweeps (no early
    stop: synchronous LPA can 2-cycle on bipartite structure, so a
    fixed sweep count — replayed verbatim by the oracle — is the
    hash-exact contract; callers wanting convergence diff two
    consecutive outputs).

    Shape at scale: per sweep one equi-join (labels onto the
    symmetrized edge list) + one (node, label) count + one max_by
    argmax — all shuffles keyed on node ids; fixpoint.iterate
    checkpoints every sweep.  Returns (node, community) where
    community is the surviving label (a node id)."""
    e = (edges.select(F.col(src_col).cast("long").alias("a"),
                      F.col(dst_col).cast("long").alias("b"))
              .filter(F.col("a") != F.col("b"))
              .select(F.least("a", "b").alias("u"),
                      F.greatest("a", "b").alias("v"))
              .distinct())
    sym = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    with materialized(sym) as sym:
        def sweep(lab: DataFrame) -> DataFrame:
            nbr = (sym.join(lab.select(F.col("u").alias("v"),
                                       F.col("lab").alias("vlab")), "v")
                      .groupBy("u", "vlab")
                      .agg(F.count("*").cast("long").alias("c")))
            # most frequent neighbor label, ties to the smallest label:
            # min over (-count, label) is exactly that argmax
            return (nbr.groupBy("u")
                       .agg(F.min(F.struct((-F.col("c")).alias("nc"),
                                           F.col("vlab").alias("lab")))
                             .alias("b"))
                       .select("u", F.col("b.lab").alias("lab")))

        lab, _ = iterate(sym.select("u", F.col("u").alias("lab")).distinct(),
                         sweep, [F.count("*").alias("nodes")], rounds,
                         until=lambda prev, cur: False,
                         name="label_propagation")
    return lab.select(F.col("u").alias("node"),
                      F.col("lab").alias("community"))


def link_predict(edges: DataFrame, min_cn: int = 1,
                 src_col: str = "src", dst_col: str = "dst") -> DataFrame:
    """Link prediction over an undirected edge list: for every
    NON-adjacent node pair at distance 2, the three classic
    common-neighbor scores — raw common-neighbor count, Jaccard, and
    the resource-allocation index (Zhou/Lu/Zhang 2009: sum over shared
    neighbors z of 1/deg(z), the degree-penalized variant that beats
    Adamic-Adar's 1/log without needing a transcendental).

    A link-graph pipeline runs this to densify crawl frontiers and to
    spot mirror/farm candidates that dedup missed (two hosts sharing
    most of their link neighborhoods but never linking to each other).
    Reference graph-adjacency shape: the wedge join of triangle_count
    reused with the CLOSING join inverted to an anti-join.

    Exact and engine-reproducible: both ratio scores ship on the
    repo's 2^20 rational grid (jaccard_q20 = (cn << 20) DIV
    (deg_u + deg_v - cn); ra_q20 = sum over z of (1 << 20) DIV
    deg(z)) — integer DIV, no doubles, hash-identical across engines.

    Shape at scale: degrees once (one groupBy); candidate pairs from
    ONE self-join of the symmetrized adjacency on the shared-neighbor
    key z — the join key is the WEDGE CENTER, so fan-out is
    sum_z deg(z)^2: cap hub blow-up upstream by k-core/degree
    filtering if the graph is power-law (same caveat every
    common-neighbor system documents); existing edges leave via one
    broadcast-able anti-join.  Returns (u, v, cn, jaccard_q20,
    ra_q20), u < v, cn >= min_cn, pairs NOT already edges."""
    e = (edges.select(F.col(src_col).cast("long").alias("a"),
                      F.col(dst_col).cast("long").alias("b"))
              .filter(F.col("a") != F.col("b"))
              .select(F.least("a", "b").alias("u"),
                      F.greatest("a", "b").alias("v"))
              .distinct())
    sym = e.unionAll(e.select(F.col("v").alias("u"),
                              F.col("u").alias("v")))
    deg = sym.groupBy(F.col("u").alias("node")).agg(
        F.count("*").cast("long").alias("deg"))
    # wedges centered at z: (u -z- v), u < v; RA credit = 2^20 DIV deg(z)
    zdeg = deg.select(F.col("node").alias("z"), F.col("deg").alias("zdeg"))
    w1 = sym.select(F.col("u").alias("z"), F.col("v").alias("pu"))
    w2 = sym.select(F.col("u").alias("z"), F.col("v").alias("pv"))
    cand = (w1.join(w2, "z")
              .filter(F.col("pu") < F.col("pv"))
              .join(zdeg, "z")
              .groupBy(F.col("pu").alias("u"), F.col("pv").alias("v"))
              .agg(F.count("*").cast("long").alias("cn"),
                   F.sum(F.expr("1048576 DIV zdeg"))
                    .cast("long").alias("ra_q20")))
    fresh = cand.join(e, ["u", "v"], "left_anti").filter(
        F.col("cn") >= min_cn)
    du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
    return (fresh.join(du, "u").join(dv, "v")
                 .select("u", "v", "cn",
                         F.expr("(cn * 1048576) DIV (du + dv - cn)")
                          .cast("long").alias("jaccard_q20"),
                         "ra_q20"))


def sssp(edges: DataFrame, source_pred, max_rounds: int = 32,
         src_col: str = "src", dst_col: str = "dst",
         weight_col: str | None = None) -> DataFrame:
    """Single-source / multi-source shortest paths over a directed
    weighted edge list (Bellman-Ford by synchronous relax rounds).

    The network-distance primitive under the reference's connectivity
    idioms (dc_water_classifier's region reachability, dea_tools'
    waterbody chain traversal): cost_distance computes it over a dense
    RASTER grid; this is the sparse GRAPH twin — crawl-frontier hop
    budgets, road-network reach, stream-network distance-to-outlet.

    Exact and engine-reproducible: integer weights, integer sums, min
    per node — no doubles anywhere, so Spark, DuckDB, and any
    partitioning produce bit-identical distances.

    `source_pred` is a Column predicate over the node id selecting the
    source set (multi-source = classic virtual super-source).  Weights
    default to 1 (hop counts) or come from `weight_col` (must be >= 0;
    negative weights would need |V|-1 forced rounds).

    Shape at scale: the frontier table is one row per reached node.
    Each round = one equi-join (dist x edges on src) + one groupBy-min
    on dst + one union-min with the standing table — two shuffles per
    round, both keyed on node id, so a cluster co-partitions them.
    Rounds are bounded by the hop diameter (max_rounds caps pathological
    chains); fixpoint is detected with the cheap (count, sum) pair:
    per-node distances only ever DECREASE and nodes are only ADDED, so
    an unchanged (row count, total distance) pair implies no per-node
    change.  fixpoint.iterate checkpoints every round (cutting the
    lineage) and observes that pair on the same job, so detection
    costs no extra job.  The oracle
    unrolls the same rounds as a CTE chain (rounds past the fixpoint
    are no-ops — the kcore/rdp contract).

    Returns (node, dist) for every node reachable from the source set.
    """
    w = (F.col(weight_col).cast("long") if weight_col
         else F.lit(1).cast("long"))
    e = (edges.select(F.col(src_col).cast("long").alias("src"),
                      F.col(dst_col).cast("long").alias("dst"),
                      w.alias("w"))
              .filter(F.col("src") != F.col("dst")))
    with materialized(e) as e:   # scanned once per round
        nodes = (e.select(F.col("src").alias("node"))
                  .unionByName(e.select(F.col("dst").alias("node")))
                  .distinct())

        def relax(dist: DataFrame) -> DataFrame:
            relaxed = (dist.join(e, dist.node == e.src)
                           .select(F.col("dst").alias("node"),
                                   (F.col("dist") + F.col("w"))
                                   .alias("dist")))
            return (dist.unionByName(relaxed)
                        .groupBy("node")
                        .agg(F.min("dist").alias("dist")))

        return iterate(
            nodes.filter(source_pred(F.col("node")))
                 .select("node", F.lit(0).cast("long").alias("dist")),
            relax, [F.count("*").alias("n"), F.sum("dist").alias("s")],
            max_rounds, name="sssp")[0]
