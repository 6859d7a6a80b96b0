"""Distributed graph operators (beyond ``dedup.connected_components``).

PageRank over an edge relation — the canonical iterative-join workload
(link-graph quality priors for web corpora: Page et al. 1999; Common
Crawl-scale pipelines rank hosts this way to pick crawl/keep budgets).

Float determinism: a naive ``SUM(double)`` of per-edge contributions
is partition-order dependent, so every per-iteration reduction here is
integer-quantized — ``floor(x * 1e15)`` → BIGINT → exact SUM → back to
double. ``*``, ``floor`` and the final division are bit-identical IEEE
ops in Spark and DuckDB (unlike double→DECIMAL casts, whose last-digit
rounding mode differs between the engines — measured), so the q58
oracle replays every iteration to exact equality.

No reference equivalent; training-data-pipeline extension per the
brief.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: Quantization scale for rank mass crossing a SUM. Ranks are ≤ 1 and
#: there are ≤ ~1e3 units of total mass, so scaled sums stay far below
#: the 9.2e18 BIGINT ceiling at any corpus size (total mass is 1).
_Q = 1e15


def _q(col) -> F.Column:
    return F.floor(col * F.lit(_Q)).cast("bigint")


def pagerank(
    nodes: DataFrame,
    edges: DataFrame,
    *,
    node_col: str = "id",
    src_col: str = "src",
    dst_col: str = "dst",
    n_iters: int = 5,
    damping: float = 0.85,
    checkpoint_every: int = 3,
    weight_col: str | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank: ``rank' = (1-d)/N + d·(Σ_in rank/deg
    + dangling_mass/N)``, uniform start ``1/N``. Returns
    ``(node_col, rank double)`` for every node.

    ``weight_col`` (integer multiplicities): an edge of weight w
    contributes ``w/deg`` of its source's rank with ``deg = Σ w`` —
    BIT-IDENTICAL to exploding the edge into w parallel rows (the
    quantized per-copy contribution ``floor(r/deg·1e15)`` is simply
    multiplied by w), at O(distinct edges) per round instead of
    O(total multiplicity).

    Graph-closure contract: ``nodes`` defines the rank universe.
    Edges whose dst is not in ``nodes`` LEAK their contribution (total
    rank then sums below 1) and out-of-universe srcs never contribute
    — the standard treatment of links into removed/unfetched pages.
    Pass a closed graph when mass conservation matters; the operator
    does not pay a validation join at scale.

    Scale shape: per iteration ONE edge join + ONE dst-keyed aggregate
    (both on graph keys — the same shuffle a 1000-executor PageRank
    needs and nothing more), plus two O(1) scalars (N once up front,
    dangling mass per round — a 1-row aggregate broadcast back).
    Degrees are computed once and carried, not recomputed per round.
    Lineage is truncated with ``localCheckpoint`` every
    ``checkpoint_every`` rounds — the connected-components lesson: an
    unbounded iterative plan re-analyzes exponentially.

    Fixed ``n_iters`` (not convergence-tested) keeps the operator a
    deterministic, oracle-replayable plan; callers wanting a tolerance
    loop can compare successive outputs themselves."""
    n = nodes.count()
    if n == 0:
        return nodes.select(
            F.col(node_col), F.lit(None).cast("double").alias("rank")
        )
    wexpr = (
        F.col(weight_col).cast("bigint") if weight_col else F.lit(1)
    )
    deg = edges.groupBy(F.col(src_col).alias("__n")).agg(
        F.sum(wexpr).alias("__deg")
    )
    # base is re-joined EVERY round (the fill-back side); without
    # truncation each round would re-run the full edge-scan degree
    # aggregate — n_iters redundant passes over the edge relation.
    # One eager localCheckpoint pins it to O(nodes) storage instead.
    base = (
        nodes.select(F.col(node_col).alias("__n"))
        .join(deg, "__n", "left")
        .localCheckpoint(eager=True)
    )
    teleport = (1.0 - damping) / n
    ranks = base.select("__n", F.lit(1.0 / n).alias("__r"), "__deg")
    for i in range(int(n_iters)):
        linked = ranks.filter(F.col("__deg").isNotNull())
        contribs = linked.join(
            edges, linked["__n"] == edges[src_col]
        ).select(
            F.col(dst_col).alias("__n"),
            (_q(F.col("__r") / F.col("__deg")) * wexpr).alias("__c"),
        )
        summed = contribs.groupBy("__n").agg(F.sum("__c").alias("__s"))
        dangling = ranks.filter(F.col("__deg").isNull()).agg(
            F.coalesce(F.sum(_q(F.col("__r"))), F.lit(0)).alias("__dm")
        )
        ranks = (
            base.join(summed, "__n", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "__n",
                (
                    F.lit(teleport)
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("__s"), F.lit(0)).cast("double")
                        / F.lit(_Q)
                        + F.col("__dm").cast("double")
                        / F.lit(_Q)
                        / F.lit(float(n))
                    )
                ).alias("__r"),
                "__deg",
            )
        )
        # checkpoint_every <= 0 disables intra-loop truncation (fine
        # for small n_iters; lineage doubles per round otherwise)
        if (
            int(checkpoint_every) > 0
            and (i + 1) % int(checkpoint_every) == 0
            and (i + 1) < n_iters
        ):
            ranks = ranks.localCheckpoint(eager=True)
    return ranks.select(
        F.col("__n").alias(node_col), F.col("__r").alias("rank")
    )


def undirected_canonical(
    edges: DataFrame, *, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Canonical undirected edge set ``(u, v)`` with ``u < v``: both
    orientations of the input collapse to one row, self-loops are
    dropped, duplicates removed. One distinct (= one shuffle on the
    edge key) — the normal-form every undirected algorithm here
    starts from."""
    u = F.least(F.col(src_col), F.col(dst_col)).alias("u")
    v = F.greatest(F.col(src_col), F.col(dst_col)).alias("v")
    return (
        edges.select(u, v).filter(F.col("u") != F.col("v")).distinct()
    )


def degrees(
    canon: DataFrame, *, u_col: str = "u", v_col: str = "v"
) -> DataFrame:
    """Per-node degree over a CANONICAL undirected edge set (from
    :func:`undirected_canonical`): ``(node, degree)``. Explode each
    edge into its two endpoints, one count aggregate. Nodes with no
    edges are absent (join against a node relation to zero-fill)."""
    ends = canon.select(F.col(u_col).alias("node")).unionAll(
        canon.select(F.col(v_col).alias("node"))
    )
    return ends.groupBy("node").agg(F.count(F.lit(1)).alias("degree"))


def degree_histogram(
    canon: DataFrame, *, u_col: str = "u", v_col: str = "v"
) -> DataFrame:
    """Degree distribution ``(degree, n_nodes)`` — the first plot
    anyone makes of a web/link graph, and the skew diagnostic that
    decides whether PageRank / triangle joins need salting. Two
    aggregates, both on bounded-width keys."""
    return (
        degrees(canon, u_col=u_col, v_col=v_col)
        .groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_nodes"))
    )


def bipartite_project(
    edges: DataFrame,
    *,
    left_col: str,
    right_col: str,
) -> DataFrame:
    """Project a bipartite relation (user–item, doc–term, host–page)
    onto its RIGHT side: ``(item_a, item_b, n_common)`` = number of
    distinct left nodes connected to both items, ``item_a < item_b``
    — the co-occurrence graph recommenders and related-content
    features start from.

    Scale shape: distinct-collapse first (multi-edges don't inflate
    co-occurrence), then one self-equi-join on the LEFT key and one
    count aggregate on the pair key. Fan-out is Σ_l deg(l)² — the
    inherent output size of co-occurrence, concentrated on hub left
    nodes; cap or sample those upstream (e.g. drop users with
    thousands of items — standard practice) when the square matters.
    No cross product anywhere."""
    e = edges.select(
        F.col(left_col).alias("__l"), F.col(right_col).alias("__r")
    ).distinct()
    a = e.select("__l", F.col("__r").alias("item_a"))
    b = e.select("__l", F.col("__r").alias("item_b"))
    return (
        a.join(b, "__l")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )


def triangle_counts(
    canon: DataFrame,
    *,
    u_col: str = "u",
    v_col: str = "v",
    persist_edges: bool = True,
) -> DataFrame:
    """Per-node triangle participation counts ``(node, n_triangles)``
    over a canonical undirected edge set — the clustering-coefficient
    numerator (spam-farm detection, community cohesion in web-corpus
    curation).

    Degree-ordered orientation (the MapReduce-era Suri-Vassilvitskii
    / Cohen scheme, public): orient every edge from its lower-
    ``(degree, id)`` endpoint to the higher one, then build wedges at
    each node from its OUT-neighbors only and close them against the
    canonical edge set. Out-degrees under this orientation are
    O(sqrt(m)) even for celebrity nodes, so the wedge self-join —
    the only superlinear step — is bounded; a naive id-ordered
    orientation would square the max degree instead. Each triangle
    is generated exactly once (at its unique min-(degree,id) vertex).

    Shuffle shape: degree agg + orientation join + wedge self-join
    (keyed on the wedge apex) + one closing join on the (lo,hi) edge
    key + the final explode/count — all equi-joins on graph keys, no
    cross products. Every triangle row then credits its 3 corners.
    """
    canon = canon.select(
        F.col(u_col).alias("u"), F.col(v_col).alias("v")
    )
    if persist_edges:
        # the edge relation is referenced three times (degree agg,
        # orientation join, wedge-closing join) and the degree
        # relation twice — without pinning, each reference replays
        # the upstream canonicalization shuffle (20× probe: 0.49
        # time÷data knee came from exactly this; 0.16 with it).
        # Both cached frames live for the session.
        canon = canon.persist()
    deg = degrees(canon)
    if persist_edges:
        deg = deg.persist()
    du = deg.select(
        F.col("node").alias("u"), F.col("degree").alias("du")
    )
    dv = deg.select(
        F.col("node").alias("v"), F.col("degree").alias("dv")
    )
    ranked = canon.join(du, "u").join(dv, "v")
    # orient low-(degree,id) -> high-(degree,id)
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = ranked.select(
        F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("src"),
        F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("dst"),
    )
    a = oriented.select(
        F.col("src").alias("apex"), F.col("dst").alias("n1")
    )
    b = oriented.select(
        F.col("src").alias("apex"), F.col("dst").alias("n2")
    )
    wedges = a.join(b, "apex").filter(F.col("n1") < F.col("n2"))
    closed = wedges.join(
        canon,
        (wedges["n1"] == canon["u"]) & (wedges["n2"] == canon["v"]),
    ).select("apex", "n1", "n2")
    corners = (
        closed.select(F.col("apex").alias("node"))
        .unionAll(closed.select(F.col("n1").alias("node")))
        .unionAll(closed.select(F.col("n2").alias("node")))
    )
    return corners.groupBy("node").agg(
        F.count(F.lit(1)).alias("n_triangles")
    )
