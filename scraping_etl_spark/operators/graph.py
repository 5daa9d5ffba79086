"""Host-graph PageRank for crawl prioritization.

The reference engine is a scraper (ScienceDirect/IEEE Selenium
drivers); the operational question it never answers is WHICH hosts
deserve crawl budget. PageRank over the host link graph is the
classic answer (Page et al. 1999; Cho & Garcia-Molina 1998 use it
directly for crawl ordering). This module implements power iteration
as pure DataFrame algebra:

- each iteration is ONE hash equi-join (ranks x edges on ``src``)
  plus ONE partial-aggregated ``groupBy(dst)`` — the same
  per-round shape as the connected-components operator
  (``dedup.dedup_clusters``), with ``localCheckpoint`` truncating
  lineage so N rounds never stack into one mega-plan;
- dangling mass (nodes with no out-edges) is folded back uniformly
  through a 1-row scalar relation joined via the non-foldable
  ``pmod(xxhash64(...), 1)`` key (the ``with_lm_score`` convention —
  keeps the join a BHJ, never a cross join);
- ALL rank arithmetic is integer fixed-point: ranks live in 1e-12
  units (BIGINT), per-edge contributions are integer division by
  out-degree, damping is the rational 17/20 applied as integer
  multiply-then-divide. Integer sums are associative-commutative —
  the result is bit-identical across partitionings, executors and
  engines, which is what lets a DuckDB oracle reproduce the fixpoint
  EXACTLY (the ``token_divergence`` fixed-point trick, applied to an
  iterative algorithm). The quantization error is <= out_deg ulps of
  1e-12 per node per round — deterministic, documented, and ~1e-9
  relative at web-graph degrees.

Scale: state per iteration is one row per node and one shuffle each
for the join and the agg, both keyed on node id — hash-partitioned,
skew handled by AQE (a mega-host's in-links split like any hot key).
Nothing is collected to the driver; the dangling term is an O(1)-row
scalar aggregate, same cost class as the clusters fixpoint probe.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Fixed-point scale: ranks are BIGINT multiples of 1e-12.
PR_SCALE = 1_000_000_000_000

#: Damping 0.85 as a rational — integer multiply/divide, no doubles.
PR_DAMP_NUM = 17
PR_DAMP_DEN = 20


def pagerank(edges: DataFrame, n_iter: int = 5) -> DataFrame:
    """``n_iter`` rounds of damped power iteration over ``edges``
    (duplicate edges count as parallel links — a host linking twice
    sends twice the mass; pre-``distinct`` the input for simple-graph
    semantics).

    Returns ``(node, rank_fx)`` — the fixed-point rank in 1e-12 units
    (``rank_fx / 1e12`` sums to ~1 over all nodes, minus the
    documented floor-division dust). Deterministic: same edges in any
    partitioning/order → bit-identical ranks.
    """
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")

    # e and out_deg feed EVERY iteration's plan: checkpoint both once
    # so the per-round jobs join materialized relations instead of
    # re-scanning the edge source and re-running the degree shuffle
    # n_iter times (r16 optimization round; value-identical — the same
    # relations, computed once).
    e = edges.select(
        F.col("src").alias("_src"), F.col("dst").alias("_dst")
    ).localCheckpoint()
    nodes = (
        e.select(F.col("_src").alias("node"))
        .unionByName(e.select(F.col("_dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n_nodes = nodes.count()  # O(1)-row scalar, driver-safe
    if n_nodes == 0:
        raise ValueError(
            "pagerank: edges is empty (no nodes to rank); filter the "
            "degenerate input or skip the call"
        )
    out_deg = (
        e.groupBy("_src")
        .agg(F.count(F.lit(1)).alias("_deg"))
        .localCheckpoint()
    )

    init_fx = PR_SCALE // n_nodes
    teleport_fx = (PR_SCALE * (PR_DAMP_DEN - PR_DAMP_NUM)) // (
        PR_DAMP_DEN * n_nodes
    )

    ranks = nodes.withColumn("rank_fx", F.lit(init_fx).cast("long"))
    for _ in range(n_iter):
        with_deg = ranks.join(
            out_deg, ranks["node"] == out_deg["_src"], "left"
        ).select("node", "rank_fx", "_deg")
        # per-edge contribution: EXACT integer division by out-degree
        # (`div`, not `/` — the latter routes through double and can
        # round up across an integer boundary the oracle floors)
        contrib = (
            with_deg.filter(F.col("_deg").isNotNull())
            .join(e, F.col("node") == F.col("_src"))
            .select(
                F.col("_dst").alias("node"),
                F.expr("rank_fx div _deg").alias("_c"),
            )
            .groupBy("node")
            .agg(F.sum("_c").alias("_inflow"))
        )
        # dangling mass -> uniform redistribution (1-row scalar, BHJ
        # via the non-foldable always-0 key)
        dangling = (
            with_deg.filter(F.col("_deg").isNull())
            .agg(F.coalesce(F.sum("rank_fx"), F.lit(0)).alias("_dm"))
            .withColumn("_k", F.pmod(F.xxhash64(F.col("_dm")), F.lit(1)))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .withColumn("_k", F.pmod(F.xxhash64("node"), F.lit(1)))
            .join(F.broadcast(dangling), "_k")
            .select(
                "node",
                F.expr(
                    f"CAST({teleport_fx} AS BIGINT) + "
                    f"({PR_DAMP_NUM} * (coalesce(_inflow, 0) + "
                    f"(_dm div {n_nodes}))) div {PR_DAMP_DEN}"
                ).alias("rank_fx"),
            )
            .localCheckpoint()
        )
    return ranks


#: HITS fixed-point scale: hub/authority weights are BIGINT multiples
#: of 1e-9. Chosen SMALLER than PR_SCALE so the per-round inflow sum
#: Σ_edges h(src) <= |E|·SCALE stays inside BIGINT for |E| up to ~9e9
#: edges — the documented capacity bound of this implementation.
HITS_SCALE = 1_000_000_000


def hits(edges: DataFrame, n_iter: int = 4) -> DataFrame:
    """Hubs-and-authorities (Kleinberg 1999, HITS) over ``edges`` —
    the crawl-frontier complement of :func:`pagerank`: PageRank finds
    globally endorsed hosts, HITS separates DIRECTORY hosts (hubs:
    link to many good authorities — where a crawler harvests fresh
    URLs) from CONTENT hosts (authorities: linked by many good hubs —
    where the documents are). Duplicate edges count as parallel links,
    matching :func:`pagerank`.

    Per iteration (the mutual recursion, as pure DataFrame algebra):
    ``auth_raw(v) = Σ_{u→v} hub(u)`` then ``hub_raw(u) = Σ_{u→v}
    auth(v)`` — each ONE hash equi-join plus ONE partial-agg groupBy,
    ``localCheckpoint`` truncating lineage per round. Each vector is
    then L1-renormalized to total ≈ ``HITS_SCALE`` in INTEGER
    arithmetic: ``x_norm = x_raw div max(total div HITS_SCALE, 1)`` —
    floor-div by the floor-divided total avoids the
    ``x_raw * SCALE`` product that would overflow BIGINT at web-graph
    edge counts. Quantization: each round's total lands in
    ``[SCALE - |V|, SCALE + total div SCALE]`` units of 1e-9 —
    deterministic (integer ops are associative-commutative), so the
    result is bit-identical across partitionings and engines and a
    DuckDB oracle reproduces the fixpoint EXACTLY (the
    :func:`pagerank` contract).

    Returns ``(node, hub_fx, auth_fx)`` — BIGINT weights in 1e-9
    units; nodes with no out-links have hub 0, no in-links auth 0.
    """
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    e = edges.select(
        F.col("src").alias("_src"), F.col("dst").alias("_dst")
    ).localCheckpoint()
    nodes = (
        e.select(F.col("_src").alias("node"))
        .unionByName(e.select(F.col("_dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )
    n_nodes = nodes.count()  # O(1)-row scalar, driver-safe
    if n_nodes == 0:
        raise ValueError(
            "hits: edges is empty (no nodes to score); filter the "
            "degenerate input or skip the call"
        )

    def _renorm(raw: DataFrame, col: str) -> DataFrame:
        # 1-row total joined through the non-foldable always-0 key
        # (BHJ, never a cross join — the pagerank convention)
        total = (
            raw.agg(F.coalesce(F.sum(col), F.lit(1)).alias("_t"))
            .withColumn("_q", F.expr(f"greatest(_t div {HITS_SCALE}, 1)"))
            .withColumn("_k", F.pmod(F.xxhash64(F.col("_t")), F.lit(1)))
        )
        return (
            raw.withColumn("_k", F.pmod(F.xxhash64("node"), F.lit(1)))
            .join(F.broadcast(total), "_k")
            .select("node", F.expr(f"{col} div _q").alias(col))
        )

    hub = nodes.withColumn("hub_fx", F.lit(HITS_SCALE).cast("long"))
    auth = None
    for _ in range(n_iter):
        auth_raw = (
            hub.join(e, hub["node"] == e["_src"])
            .select(F.col("_dst").alias("node"), F.col("hub_fx").alias("_x"))
            .groupBy("node")
            .agg(F.sum("_x").alias("auth_fx"))
        )
        auth = _renorm(auth_raw, "auth_fx").localCheckpoint()
        hub_raw = (
            auth.join(e, auth["node"] == e["_dst"])
            .select(F.col("_src").alias("node"), F.col("auth_fx").alias("_x"))
            .groupBy("node")
            .agg(F.sum("_x").alias("hub_fx"))
        )
        hub = _renorm(hub_raw, "hub_fx").localCheckpoint()
    return (
        nodes.join(hub, "node", "left")
        .join(auth, "node", "left")
        .select(
            "node",
            F.coalesce("hub_fx", F.lit(0)).cast("long").alias("hub_fx"),
            F.coalesce("auth_fx", F.lit(0)).cast("long").alias("auth_fx"),
        )
    )
