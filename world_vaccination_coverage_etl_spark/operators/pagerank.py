"""Distributed PageRank over pair graphs (power iteration).

Duplicate detection, entity resolution, and link analysis all emit
PAIR graphs; ranking nodes by centrality inside those graphs is the
standard next question (which document is the canonical copy of a
duplicate cluster?  which domain dominates a link neighborhood?).
PageRank (Brin & Page, 1998 — public literature) is the canonical
answer, and its power iteration is the canonical iterative
distributed workload.

Formulation (the simple, deterministic one):

    rank_0(v)     = 1 / N
    rank_{k+1}(v) = (1 - d) / N  +  d * Σ_{(u,v) ∈ E} rank_k(u) / outdeg(u)

Dangling mass (nodes with no out-edges) is dropped rather than
redistributed, so a FIXED iteration count gives a bit-for-bit
reproducible result that an unrolled ANSI-SQL oracle can recompute —
the registered query certifies every rank at 6 dp against DuckDB.

Scale shape per iteration: one join of the staged edge list with the
current rank vector on ``src`` (both sides hash-partitioned on the
same key) + one partial-aggregated groupBy on ``dst`` + one broadcast
of nothing — the damping term is a literal.  The rank vector is
lineage-cut each round via the shared ``staging.stage`` helper
(``localCheckpoint`` locally, durable alternating parquet staging
tables on a cluster), so the plan stays O(1) deep regardless of
iteration count.  Driver traffic is a single scalar (the node count)
before the loop; nothing inside the loop touches the driver, so the
operator is the same plan at 100 TB with more executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .staging import stage


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
    damping: float = 0.85,
    n_iter: int = 5,
    undirected: bool = True,
    staging_dir: str | None = None,
) -> DataFrame:
    """Rank every node after exactly ``n_iter`` power iterations.

    ``nodes``: one row per node (``id_col``); isolated nodes allowed —
    they converge to the damping floor ``(1 - d) / N``.
    ``edges``: pair list; with ``undirected=True`` (the duplicate-graph
    case) each pair contributes mass in both directions.
    Returns ``(id_col, rank)`` with full-precision doubles; round at
    the presentation edge.
    """
    fwd = edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
    if undirected:
        rev = edges.select(
            F.col(dst_col).alias("src"), F.col(src_col).alias("dst")
        )
        fwd = fwd.unionAll(rev)
    # contribution edges carry 1/outdeg so the loop never re-joins the
    # degree table; staged once, re-scanned every iteration
    outdeg = fwd.groupBy("src").agg(
        F.count(F.lit(1)).cast("double").alias("outdeg")
    )
    contrib = stage(
        fwd.join(outdeg, on="src", how="inner").select(
            "src", "dst", (F.lit(1.0) / F.col("outdeg")).alias("w")
        ),
        "pr_edges", eager=True, staging_dir=staging_dir
    )

    n = nodes.count()  # single scalar to the driver, before the loop
    if n == 0:
        return nodes.select(
            F.col(id_col), F.lit(0.0).alias("rank")
        )
    base = (1.0 - damping) / n

    node_ids = stage(
        nodes.select(F.col(id_col).alias("node")),
        "pr_nodes", eager=True, staging_dir=staging_dir
    )
    ranks = node_ids.select("node", F.lit(1.0 / n).alias("rank"))

    for it in range(n_iter):
        mass = (
            contrib.join(ranks, contrib.src == ranks.node, "inner")
            .select("dst", (F.col("rank") * F.col("w")).alias("m"))
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("m").alias("mass"))
        )
        ranks = node_ids.join(mass, on="node", how="left").select(
            "node",
            (
                F.lit(base) + F.lit(damping) * F.coalesce("mass", F.lit(0.0))
            ).alias("rank"),
        )
        # alternating staged paths so a write never clobbers its input
        ranks = stage(
            ranks, f"pr_ranks_{it % 2}", eager=True, staging_dir=staging_dir
        )

    return ranks.select(F.col("node").alias(id_col), F.col("rank"))
