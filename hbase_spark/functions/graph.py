"""Distributed connected components — alternating large-star/small-star.

The two-phase star algorithm (Kiveris et al., "Connected Components in
MapReduce and Beyond", SoCC 2014): alternate

- **large-star**: every node points its *larger* neighbors at the
  minimum of its closed neighborhood;
- **small-star**: every node points its *smaller-or-equal* neighbors
  (edges oriented big->small) at that minimum;

until the edge set reaches a fixpoint, at which point every edge is
``(node, root)`` with ``root`` the component's minimum id.  Converges in
O(log^2 n) rounds worst-case and 3-5 rounds on the short-diameter graphs
dedup produces.

Why not one-hop min-id (what ``minhash_dedup`` uses)?  One hop is only
correct when every duplicate pairs directly with its cluster
representative.  Near-dup clusters are frequently *chains* (v1~v2,
v2~v3, but jaccard(v1, v3) < t — successive crawl snapshots, doc
revisions): transitive closure needs iteration, and a driver-side
union-find needs the whole edge set on one machine.  This runs entirely
as DataFrame ops.

Scale shape, per round: one union (symmetrize / orient — map-only) and
one window per star (edges shuffled by node once; the input dedup AND
the neighborhood minimum both ride that single exchange — r10 replaced
a groupBy+join that cost an extra AQE stage and a second edge scan per
round; r11 moved the per-round terminal distinct, a third full pair
exchange, onto the stars' own exchanges).  TWO pair exchanges per
round total; the fixpoint signature's distinct-aggregate exchange
carries map-side-deduped 8-byte hashes, not pairs.
Rows are pairs of longs throughout; hub nodes never materialize a
neighbor array (no collect_list/collect_set — the window's min buffer
spills through the external sorter), and nothing data-sized reaches
the driver — the fixpoint check collects one (count, hash-sum) row
per round.  Each round is materialized to cut
the lineage that iterative plans otherwise accumulate.

The reference has no graph operator; this backs ``dedup_clusters``
(functions/dedup.py) — the transitive-closure step of MinHash/SemDeDup
pipelines (e.g. the cluster step of Lee et al. 2022's NearDup).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from hbase_spark.sources.tables import materialize


def _signature(edges: DataFrame) -> tuple:
    """Cheap deterministic fixpoint signature: (distinct-pair count,
    XOR of distinct pair hashes) — set semantics, so the stored edge
    frame may carry duplicate rows (r11: the terminal per-round
    ``distinct`` is gone; each star dedups its own input on the
    exchange it already pays, and small-star's output keeps its
    cross-partition duplicates until the next round).  One aggregate
    job whose exchange carries 8-byte hashes pre-deduped per map
    partition, not edge pairs; collision odds are negligible for a
    convergence check that only ever compares successive rounds."""
    row = edges.agg(
        F.expr("count(DISTINCT xxhash64(_u, _v))").alias("n"),
        F.expr("bit_xor(DISTINCT xxhash64(_u, _v))").alias("h"),
    ).first()
    return (row["n"], row["h"])


def _large_star(edges: DataFrame) -> DataFrame:
    """large-star(E): for each node u, m = min(N(u) + {u}); emit
    (v, m) for every neighbor v > u.

    One window (min over the partition) instead of groupBy+join: the
    r10 optimization measured the agg+join form paying an extra AQE
    stage-job per round (agg exchange + broadcast build) plus a second
    scan of the symmetrized frame — the window shuffles the edges by
    _u exactly once and computes the neighborhood minimum in the same
    pass (~25% off doc_cc_clusters at sf0.1, output identical).  At
    scale both forms move O(edges) through one exchange (the join's
    mins side outgrows broadcast and falls back to a sort-merge that
    re-shuffles the edges anyway); the window's per-partition buffer
    spills through the same external sorter the SMJ would have used.

    Input dedup rides the window's own exchange (r11, guide §2.4):
    ``repartition(_u)`` then ``distinct`` — hashpartitioning(_u)
    satisfies the dedup aggregation's ClusteredDistribution([_u, _v])
    (subset rule) AND the window's ClusteredDistribution([_u]), so
    dedup + neighborhood-min cost ONE exchange, verified in-plan.
    This replaced small-star's terminal distinct (a third full pair
    exchange per round): each star now cleans the duplicates of the
    frame it is about to shuffle anyway.

    Built from SQL expr strings (r10): the loop constructs this plan
    every round, and the Column/Window form cost ~0.5s of py4j
    round-trips per round at the driver — one parsed string per
    projection makes the build driver-cheap."""
    sym = edges.unionByName(edges.selectExpr("_v AS _u", "_u AS _v"))
    return (
        sym.repartition("_u")
        .distinct()
        .selectExpr(
            "_u", "_v",
            "least(min(_v) OVER (PARTITION BY _u), _u) AS _m",
        )
        .filter("_v > _u")
        .selectExpr("_v AS _u", "_m AS _v")
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """small-star(E): orient edges big->small; for each node u,
    m = min of its smaller neighbors + itself; emit (v, m) for every
    smaller neighbor v != m, plus (u, m).

    Same one-window shape as ``_large_star``, with the same
    exchange-riding input dedup (r11).  The moved-edges and
    rooted-edge outputs are fused into a single explode so the
    windowed frame is scanned once (a union of two projections would
    execute the window subtree twice — Spark does not CSE across
    union branches).  The terminal ``distinct`` is GONE (it was a
    third full pair exchange per round): the output keeps the
    cross-partition duplicate (v, m) pairs two windows can emit, the
    next round's stars dedup them on their own exchanges, and the
    fixpoint signature compares DISTINCT sets — so each round's edge
    SET (what the classic formulation tracks) is unchanged, per-row
    multiplicity is bounded by the emitting round (stars emit per
    *distinct* input edge, so duplicates never compound), and only
    ``connected_components``'s final assignment dedups once."""
    oriented = edges.selectExpr(
        "greatest(_u, _v) AS _u", "least(_u, _v) AS _v"
    ).filter("_u != _v")
    return (
        oriented.repartition("_u")
        .distinct()
        .selectExpr(
            "_u", "_v", "min(_v) OVER (PARTITION BY _u) AS _m"
        )
        .selectExpr(
            "explode(CASE WHEN _v != _m"
            " THEN array(named_struct('_u', _v, '_v', _m),"
            " named_struct('_u', _u, '_v', _m))"
            " ELSE array(named_struct('_u', _u, '_v', _m)) END) AS _e"
        )
        .selectExpr("_e._u AS _u", "_e._v AS _v")
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    nodes: DataFrame | None = None,
    node_col: str | None = None,
    max_rounds: int = 30,
) -> DataFrame:
    """Connected components of an undirected graph.

    Parameters
    ----------
    edges:
        Edge list; ``src``/``dst`` must be integral node ids (hash or
        dense-rank string keys first).  Direction and duplicates are
        irrelevant; self-loops are ignored.
    nodes:
        Optional node frame (column ``node_col``, default = ``src``):
        isolated nodes (no edges) then appear in the output as their
        own singleton component.  Without it the output covers exactly
        the nodes incident to an edge.
    max_rounds:
        Hard stop; the algorithm converges in O(log^2 n) alternating
        rounds, so hitting this indicates malformed input and raises
        rather than returning a partial closure.

    Node ids must be integral (hash or dense-rank string keys first):
    an id that is NULL or does not cast to long fails the job in-plan
    — a silent NULL would otherwise collapse every edge and return an
    empty closure.

    Returns
    -------
    DataFrame ``(node, component)`` — one row per node, ``component``
    the minimum node id reachable from it.
    """

    def _node(col_name: str):
        c = F.col(col_name).cast("long")
        return F.when(
            c.isNull(),
            F.raise_error(
                F.concat(
                    F.lit("connected_components: non-integral node id: "),
                    F.coalesce(
                        F.col(col_name).cast("string"), F.lit("NULL")
                    ),
                )
            ),
        ).otherwise(c)

    e = materialize(
        edges.select(_node(src).alias("_u"), _node(dst).alias("_v"))
        .filter(F.col("_u") != F.col("_v"))
        .distinct()
    )
    # One star pair per fixpoint signature.  Checking every OTHER round
    # (two pairs per signature) was measured in round 7 and REJECTED:
    # a star pair costs two shuffle aggregations + a join while the
    # signature is one 1-row aggregate over the already-checkpointed
    # edges, so overshooting convergence by a pair costs far more than
    # the signature it saves (doc_cc_clusters at sf0.1: 3.9s -> ~5.8s
    # batched).  Driver latency only dominates below bench scale.
    sig = _signature(e)
    for _ in range(max_rounds):
        e = materialize(_small_star(_large_star(e)))
        nxt = _signature(e)
        if nxt == sig:
            break
        sig = nxt
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_rounds} rounds"
        )

    # Fixpoint edge set is a star forest: (node, root) for every
    # non-root node.  Roots and isolated nodes map to themselves.
    # distinct: the stored rounds carry duplicate rows by design (the
    # per-round terminal distinct moved onto the stars' own exchanges,
    # r11) — the output contract stays one row per node.
    assign = e.select(
        F.col("_u").alias("node"), F.col("_v").alias("component")
    ).distinct()
    roots = assign.select(F.col("component").alias("node")).distinct().join(
        assign.select("node"), "node", "left_anti"
    )
    out = assign.unionByName(
        roots.select("node", F.col("node").alias("component"))
    )
    if nodes is not None:
        nc = node_col or src
        iso = (
            nodes.select(_node(nc).alias("node"))
            .distinct()
            .join(out.select("node"), "node", "left_anti")
        )
        out = out.unionByName(iso.select("node", F.col("node").alias("component")))
    return out
