"""Incremental cluster maintenance — fold a delta's match edges into an
existing clustering without re-clustering the corpus.

No reference counterpart (DeezyMatch is batch-only); this is the
operation a 10^12-document deployment actually runs day to day: a daily
crawl delta is blocked/scored against the corpus, and only the clusters
it touches are recomputed. Re-running connected components over the
full historical match graph per delta is a full-corpus pass; this
operator bounds every shuffle by the delta's neighborhood:

- the *touched component* list is delta-sized (distinct components of
  the delta edges' endpoints) and is broadcast, so extracting the
  touched members and excluding them from the pass-through side are
  both map-side (BroadcastHashJoin semi/anti — no corpus shuffle);
- the CC rerun sees only |touched members| star edges + |delta| new
  edges, and under ``driver_threshold`` it closes on the driver — the
  cost is the delta neighborhood, not the corpus;
- the untouched corpus rows stream through unchanged.

Equivalence contract (tested in tests/test_incremental.py):
``update_clusters(cc(E1), E2) == cc(E1 ∪ E2)`` whenever ``clusters_prev``
uses min-member-id component labels, exactly what
``connected_components`` emits — star edges (member → min-id) preserve
both connectivity and the min of every merged component.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .cc import DRIVER_THRESHOLD, _driver_components, _driver_sized, connected_components

__all__ = ["clusters_at_thresholds", "remove_nodes", "update_clusters"]


def clusters_at_thresholds(
    edges: DataFrame,
    thresholds: list,
    *,
    weight_col: str = "weight",
    src: str = "src",
    dst: str = "dst",
    **cc_kwargs,
) -> DataFrame:
    """Clustering at several match thresholds in ONE sweep — the
    threshold-selection analysis every Splink deployment runs before
    committing to a cutoff (how do clusters grow as the bar lowers?).
    → DataFrame[threshold, node, component]: for each t in
    ``thresholds`` the connected components of ``edges`` restricted to
    ``weight >= t``. Per-threshold semantics identical to
    :func:`connected_components` (edgeless nodes absent; component =
    min member id).

    Scale shape: ``thresholds`` must be STRICTLY DECREASING — the
    sweep computes CC from scratch only at the tightest threshold,
    then folds each successive edge BAND ``prev_t > w >= t`` in with
    :func:`update_clusters`, whose cost is the band's delta
    neighborhood, not the corpus. A naive per-threshold CC re-run is
    |thresholds| full passes over the match graph; this is one pass
    plus per-band increments (clusters only ever merge as t drops, so
    incremental == from-scratch — property-tested). Each step's
    clustering is lazily localCheckpointed so plan lineage stays flat
    across bands.
    """
    if not thresholds:
        raise ValueError("clusters_at_thresholds: empty thresholds")
    if any(b >= a for a, b in zip(thresholds, thresholds[1:])):
        raise ValueError(
            "clusters_at_thresholds: thresholds must be strictly "
            f"decreasing, got {thresholds}"
        )
    w = F.col(weight_col)
    e = edges.select(w.alias("_w"), F.col(src).alias("src"), F.col(dst).alias("dst"))
    clusters = None
    prev_t = None
    out = []
    for t in thresholds:
        if clusters is None:
            band = e.where(F.col("_w") >= F.lit(t))
            clusters = connected_components(
                band.select("src", "dst"), **cc_kwargs
            )
        else:
            band = e.where((F.col("_w") >= F.lit(t)) & (F.col("_w") < F.lit(prev_t)))
            clusters = update_clusters(
                clusters, band.select("src", "dst"), **cc_kwargs
            )
        clusters = clusters.localCheckpoint(eager=False)
        out.append(clusters.select(F.lit(t).alias("threshold"), "node", "component"))
        prev_t = t
    res = out[0]
    for o in out[1:]:
        res = res.unionByName(o)
    return res


def update_clusters(
    clusters_prev: DataFrame,
    new_edges: DataFrame,
    *,
    node_col: str = "node",
    component_col: str = "component",
    src: str = "src",
    dst: str = "dst",
    **cc_kwargs,
) -> DataFrame:
    """→ DataFrame[node, component] — ``clusters_prev`` with
    ``new_edges`` folded in transitively.

    ``clusters_prev``: [node, component] where component = min member id
    (the ``connected_components`` contract; arbitrary labels would break
    min-id stability of merged clusters). Nodes absent from
    ``clusters_prev`` (brand-new documents) may appear in ``new_edges``
    and are clustered from scratch. As with ``connected_components``,
    edgeless singletons never appear — callers coalesce to self-id.

    Scale shape: ``new_edges`` (read twice; pass a materialized or
    driver-built frame) and the components they touch are delta-sized,
    so the corpus-sized ``clusters_prev`` is only ever on the probe side
    of a broadcast join (no corpus shuffle). The closure's input — the
    touched members' star edges plus ``new_edges`` — goes through
    ``connected_components``' own driver-vs-distributed rule
    (``cc._driver_sized`` at its ``driver_threshold``): under it, one
    job collects the input, the union-find kernel closes it on the
    driver, and the pass-through side excludes the refreshed nodes, a
    driver-side batch; above it, ``connected_components`` closes the
    touched neighbourhood in the distributed rounds without probing it
    again, so the probe's ``driver_threshold + 1`` rows are the one
    extra pass that path pays.
    """
    prev = clusters_prev.select(
        F.col(node_col).alias("node"), F.col(component_col).alias("component")
    )
    edges = new_edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    endpoints = edges.select(F.col("src").alias("node")).unionAll(
        edges.select(F.col("dst").alias("node"))
    )
    # components the delta touches — delta-sized by construction, so it
    # broadcasts (as does the endpoint list feeding it); every corpus-
    # sized join in this plan is a BroadcastHashJoin, never a shuffle
    touched = F.broadcast(
        prev.join(F.broadcast(endpoints), "node", "left_semi").select("component")
    )
    members = prev.join(touched, "component", "left_semi")
    # star edges carry each touched member to its (min-id) center; the
    # center's own (c, c) self-loop is dropped by CC canonicalization
    # but the center re-enters via every other member's edge, and a
    # touched singleton center is itself a delta endpoint
    star = members.select(F.col("node").alias("src"), F.col("component").alias("dst"))
    closure = star.unionByName(edges)

    local = _driver_sized(closure, cc_kwargs.get("driver_threshold", DRIVER_THRESHOLD))
    if local is None:
        # already sized above the threshold: no second probe
        refreshed = connected_components(closure, **{**cc_kwargs, "driver_threshold": 0})
        untouched = prev.join(touched, "component", "left_anti").select("node", "component")
        return untouched.unionByName(refreshed)
    # every touched member is a node of the closure, so the untouched
    # rows are the ones whose node the driver did not refresh
    refreshed = _driver_components(closure, local)
    untouched = prev.join(F.broadcast(refreshed.select("node")), "node", "left_anti")
    return untouched.unionByName(refreshed)


def remove_nodes(
    clusters_prev: DataFrame,
    edges_prev: DataFrame,
    deleted: DataFrame,
    *,
    node_col: str = "node",
    component_col: str = "component",
    src: str = "src",
    dst: str = "dst",
    **cc_kwargs,
) -> DataFrame:
    """→ DataFrame[node, component] — ``clusters_prev`` with the
    ``deleted`` nodes retracted, re-closing ONLY the touched components.

    The inverse delta of :func:`update_clusters`: a crawl refresh also
    retracts documents (expired pages, takedowns), and deleting a node
    can SPLIT a component — the deleted doc may have been the only
    bridge between two title variants — so the star edges stored in
    ``clusters_prev`` are not enough: the split is only decidable on
    the REAL surviving match edges, which is why the incremental state
    keeps an append-only edge table (``incremental_er``'s ``edges``).

    Equivalence contract (tests/test_incremental.py):
    ``remove_nodes(cc(E), E, D) == cc(E restricted to V \\ D)`` — exact,
    including splits, because the touched components are re-closed from
    their surviving real edges, not their stars.

    Scale shape: ``deleted`` is delta-sized and broadcasts; the touched
    component list and their member list are delta-neighborhood-sized
    (same bound :func:`update_clusters` already relies on) and also
    broadcast, so the corpus-sized frames — ``clusters_prev`` and
    ``edges_prev`` — are only ever on the probe side of a
    BroadcastHashJoin: no corpus shuffle. A match edge always connects
    two nodes of the same component, so membership of ``src`` alone
    decides whether an edge belongs to a touched component.

    Deleted nodes that were edgeless singletons never appear in
    ``clusters_prev`` (the ``connected_components`` contract) and need
    no handling here; survivors that become edgeless by the deletion
    drop OUT of the result, per the same contract — callers coalesce
    to self-id.
    """
    prev = clusters_prev.select(
        F.col(node_col).alias("node"), F.col(component_col).alias("component")
    )
    edges = edges_prev.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    dele = deleted.select(F.col(deleted.columns[0]).alias("node")).distinct()

    touched = (
        prev.join(F.broadcast(dele), "node", "left_semi")
        .select("component")
        .distinct()
    )
    member_ids = prev.join(F.broadcast(touched), "component", "left_semi").select(
        "node"
    )
    surviving = (
        edges.join(F.broadcast(member_ids), edges.src == member_ids.node, "left_semi")
        .join(F.broadcast(dele), edges.src == dele.node, "left_anti")
        .join(F.broadcast(dele), edges.dst == dele.node, "left_anti")
    )
    refreshed = connected_components(surviving, **cc_kwargs)

    untouched = prev.join(F.broadcast(touched), "component", "left_anti")
    return untouched.unionByName(refreshed)
