"""Connected components over duplicate-pair graphs.

Near-dup detection emits PAIRS; actual corpus dedup needs CLUSTERS —
every document labeled with its duplicate-component representative so
one keeper per component survives.  This is the step between
``operators/dedup.py`` pair output and a curation decision.

Algorithm: alternating **large-star / small-star** (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14 — public
literature).  Each round rewrites the EDGE SET instead of propagating
labels one hop:

    large-star(u):  connect every neighbor v > u to
                    m(u) = min(N(u) ∪ {u})        → emits (m, v)
    small-star(v):  connect every neighbor u < v (and v itself) to
                    m(v) = min of those neighbors → emits (m, u), (m, v)

The composition halves component "heights" geometrically, so the
fixpoint — a star forest with every node pointing directly at its
component's minimum id — arrives in O(log n) rounds regardless of
graph diameter.  That is the r8→r9 re-plan: the previous one-hop
min-label propagation needed O(diameter) rounds, and the synthetic
dup corpora grow clone-chain diameters with scale, which compounded
to a measured 90× runtime at 100× input.  Star rounds also SHRINK the
edge set toward |V|−|components| rows, so late rounds are nearly free
where label propagation re-joined the full edge set every round.

Scale shape per round: two groupBy→join passes over the current edge
set (short integer keys, partial-aggregated map-side) + one
dropDuplicates.  Edges are kept canonical (u < v), so the parent side
of every edge is always the smaller id.  Convergence is the star-
forest test "no parent id also appears as a child id" — a semi-join
with ``limit(1)``; only that scalar returns to the driver.  Each
round is lineage-cut via the shared ``staging.stage`` helper
(``localCheckpoint`` locally, durable per-round parquet staging
tables when ``staging_dir`` is given — two alternating paths so a
write never overwrites the parquet it reads).  Nothing in the loop
holds state proportional to data size on the driver, so the operator
is the same plan at 100 TB with more executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .staging import stage


def _large_star(e: DataFrame) -> DataFrame:
    """Emit (m(u), v) for every neighbor v > u; m(u) = min(N(u) ∪ {u}).

    Input/output edges are canonical (u < v).  Output size is exactly
    one row per input edge (the strictly-larger endpoint is emitted
    once, from its smaller center), possibly with duplicates that the
    end-of-round dropDuplicates clears."""
    und = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    mins = und.groupBy("u").agg(F.min("v").alias("mn"))
    # m ≤ u always, so emitted edges (m, v) with v > u ≥ m stay canonical
    mins = mins.select("u", F.least("u", "mn").alias("m"))
    return (
        und.join(mins, on="u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("m").alias("u"), "v")
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Emit (m, u) for every neighbor u < v with u ≠ m, plus (m, v);
    m = min of v's strictly-smaller neighbors.

    With canonical edges the strictly-smaller neighbors of a center v
    are exactly the u-sides of its edges, so no union with a reversed
    copy is needed."""
    sm = e.groupBy("v").agg(F.min("u").alias("m"))  # m < v by canon
    redirect = (
        e.join(sm, on="v")
        .filter(F.col("u") != F.col("m"))
        .select(F.col("m").alias("u"), F.col("u").alias("v"))
    )
    to_root = sm.select(F.col("m").alias("u"), "v")
    return redirect.unionAll(to_root).dropDuplicates(["u", "v"])


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 25,
    staging_dir: str | None = None,
) -> DataFrame:
    """Label every node with its component id (min node id reachable).

    ``nodes``: one row per node (``id_col``); singletons allowed.
    ``edges``: undirected pair list (``src_col``, ``dst_col``).
    Raises if ``max_iter`` rounds don't converge — large-star/small-
    star needs O(log n) rounds, so 25 covers any physically possible
    graph; non-convergence means the input is pathological (e.g. null
    ids), not the algorithm.
    """
    e = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).cast("long").alias("u"),
            F.greatest(F.col(src_col), F.col(dst_col)).cast("long").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))  # self-loops carry nothing
        .dropDuplicates(["u", "v"])
    )
    e = stage(e, "cc_edges_0", eager=True, staging_dir=staging_dir)

    # settled-component parking (late-r9, the second half of the r8
    # verdict's CC item): after each star round, a component whose
    # edges already form an ISOLATED star -- root never a child, every
    # child exactly one parent, no child a parent elsewhere -- can
    # never change again (components only merge through existing
    # edges, and none of its members touch any other edge), so its
    # edges leave the loop.  Dup corpora are MANY small clusters plus
    # a few deep chains: most of the edge mass parks in the first
    # round or two, and the remaining O(log height) rounds shuffle
    # only the unsettled tail instead of re-shuffling ~|V| rows per
    # round.  Each parked piece is staged once at creation; the loop
    # ends when the residual is EMPTY (a fully converged residual
    # parks itself, so emptiness IS the star-forest test -- same
    # one-scalar-job probe cost as the old violation check).
    parked = []
    for it in range(max_iter):
        # stage the star round ONCE; the settled/unsettled split below
        # consumes it from three plans (bad_root, anti, semi)
        e = stage(
            _small_star(_large_star(e)),
            f"cc_star_{(it % 2) + 1}", eager=True, staging_dir=staging_dir
        )
        # one node-stat pass finds every UNSETTLED node: appears as
        # both parent and child (a chain) or as a child twice (an
        # unmerged sibling pair); a root is bad iff it is bad itself
        # or any of its children is
        bad_nodes = (
            e.select(F.col("u").alias("id"), F.lit(1).alias("p"),
                     F.lit(0).alias("c"))
            .unionAll(
                e.select(F.col("v").alias("id"), F.lit(0).alias("p"),
                         F.lit(1).alias("c"))
            )
            .groupBy("id")
            .agg(F.sum("p").alias("np_"), F.sum("c").alias("nc"))
            .filter(
                ((F.col("np_") > 0) & (F.col("nc") > 0)) | (F.col("nc") > 1)
            )
            .select("id")
        )
        bad_root = (
            e.join(bad_nodes.select(F.col("id").alias("v")), on="v",
                   how="left_semi")
            .select("u")
            .unionAll(
                e.join(bad_nodes.select(F.col("id").alias("u")), on="u",
                       how="left_semi")
                .select("u")
            )
            .distinct()
        )
        # root-id list is tiny; cut it so the anti/semi split doesn't
        # recompute the three semi-joins twice
        bad_root = stage(
            bad_root, f"cc_bad_{it % 2}", eager=True, staging_dir=staging_dir
        )
        # convergence probe on bad_root, not on the residual edge set:
        # bad_root empty ⟺ residual (e ⋉ bad_root) empty, and probing
        # here skips the final round's anti-join/semi-join passes over
        # e entirely — with no unsettled root the WHOLE edge set parks
        # as-is (r14 opt; one-round graphs, the common dup-corpus case,
        # drop ~2 jobs per CC invocation).  Probing bad_root also
        # materializes its checkpoint, which the split below reuses.
        if bad_root.limit(1).count() == 0:
            parked.append(e)
            break
        newly_settled = stage(
            e.join(bad_root, on="u", how="left_anti"),
            f"cc_parked_{it}", eager=True, staging_dir=staging_dir
        )
        parked.append(newly_settled)
        e = stage(
            e.join(bad_root, on="u", how="left_semi"),
            f"cc_edges_{(it % 2) + 1}", eager=True, staging_dir=staging_dir
        )
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )

    # parked pieces are disjoint isolated stars (child v -> root u =
    # component min); groupBy is defensive versus duplicate child rows
    allstars = parked[0]
    for piece in parked[1:]:
        allstars = allstars.unionAll(piece)
    stars = allstars.groupBy(F.col("v").alias("node")).agg(
        F.min("u").alias("root")
    )
    return (
        nodes.select(
            F.col(id_col).alias("node"),
            F.col(id_col).cast("long").alias("self_label"),
        )
        .join(stars, on="node", how="left")
        .select(
            F.col("node").alias(id_col),
            F.coalesce("root", "self_label").alias("component_id"),
        )
    )


def component_summary(components: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Cluster roll-up: component size + keeper (the representative is
    the component id itself, i.e. the min doc id).  One shuffle."""
    return components.groupBy("component_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.min(id_col).alias("keeper_id"),
    )


def orient_edges(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Orient an undirected edge set by (degree, id).

    Classic triangle-counting orientation (Cohen, "Graph Twiddling in
    a MapReduce World", CiSE'09 — public literature): direct every
    edge from its lower-(degree, id) endpoint to its higher one under
    the total order (deg(v), v).  Wedges are then enumerated only at
    a vertex's OUT-adjacency, whose size is bounded by O(sqrt(|E|))
    amortized — a hub of degree d contributes ZERO wedges instead of
    the O(d²) an id-based orientation pays when the hub's id sorts
    low.  This is the skew bound that keeps the wedge join alive on
    power-law duplicate graphs at 100 TB.

    Returns columns ``x, y, ydeg`` (edge x→y with (deg(x), x) <
    (deg(y), y)); ``ydeg`` rides along so the wedge join can order
    out-neighbors by the same total order without re-joining degrees.
    """
    e = edges.select(F.col(src_col).alias("u"), F.col(dst_col).alias("v"))
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("deg"))
    )
    du = deg.select(F.col("node").alias("du_n"), F.col("deg").alias("du"))
    dv = deg.select(F.col("node").alias("dv_n"), F.col("deg").alias("dv"))
    j = e.join(du, F.col("du_n") == e.u).join(dv, F.col("dv_n") == e.v)
    fwd = F.struct(F.col("du").alias("d"), F.col("u").alias("n")) < F.struct(
        F.col("dv").alias("d"), F.col("v").alias("n")
    )
    return j.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("x"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("y"),
        F.when(fwd, F.col("dv")).otherwise(F.col("du")).alias("ydeg"),
    )


def oriented_triangles(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Enumerate each triangle of an undirected graph exactly once.

    ``edges``: one deduplicated row per undirected edge.  Degree
    orientation (see :func:`orient_edges`) makes the wedge join's
    per-key fan-out O(sqrt(|E|)) instead of O(max-degree²): wedges
    form at the lowest-(deg, id) corner of each triangle, ordered
    pairs of its out-neighbors, and close against the oriented edge
    between the two farther corners (which is oriented exactly
    y→z whenever (deg(y), y) < (deg(z), z) — the wedge's own
    ordering — so one equi-join closes it; each triangle has exactly
    one lowest corner, hence exactly one output row).

    Output columns ``a < b < c`` — ascending by ID, independent of
    the degree order, so results are comparable with an id-oriented
    enumeration (the deterministic form small-graph oracles use).
    """
    o = stage(orient_edges(edges, src_col, dst_col), "oriented_edges", eager=False)
    w1 = o.select(F.col("x").alias("wx"), F.col("y").alias("wy"),
                  F.col("ydeg").alias("wydeg"))
    w2 = o.select(F.col("x").alias("wx2"), F.col("y").alias("wz"),
                  F.col("ydeg").alias("wzdeg"))
    wedges = w1.join(
        w2,
        (F.col("wx2") == F.col("wx"))
        & (
            F.struct(F.col("wydeg").alias("d"), F.col("wy").alias("n"))
            < F.struct(F.col("wzdeg").alias("d"), F.col("wz").alias("n"))
        ),
    )
    closing = o.select(F.col("x").alias("cy"), F.col("y").alias("cz"))
    tri = wedges.join(
        closing, (F.col("cy") == F.col("wy")) & (F.col("cz") == F.col("wz"))
    )
    srt = F.array_sort(F.array("wx", "wy", "wz"))
    return tri.select(
        srt.getItem(0).alias("a"),
        srt.getItem(1).alias("b"),
        srt.getItem(2).alias("c"),
    )
