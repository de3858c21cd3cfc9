"""Canopy construction (McCallum, Nigam & Ungar, KDD 2000): cheap
OVERLAPPING groups from a precomputed similarity pair set, the classic
pre-blocking step for an expensive downstream comparator.

No reference counterpart (DeezyMatch ranks candidates per query). The
repo's other group-formers are disjoint — blocking keys partition by
token, CENTER/STAR and closure partition the match graph — while a
canopy is deliberately OVERLAPPING: a record within the loose
threshold of two centers belongs to both canopies, so the expensive
comparator downstream (GRU scorer, Soft-TF-IDF) can never lose a true
pair to an arbitrary partition boundary. The original paper's use
case — greedy agglomerative ER inside each canopy — is exactly the
pipeline this repo runs inside blocks.

Semantics (similarity convention; the paper uses distances):
``pairs`` carries a cheap similarity per pair; ``loose <= tight``.
Sequential rule: pick a remaining record as a CENTER; every record
with sim >= loose joins its canopy (membership draws from ALL
records); every remaining record with sim >= tight is REMOVED from
the pool (it can never become a center — but a loose-only member
stays in the pool, which is where the overlap comes from); repeat.

Round-parallel form (the star.py trick, same justification): each
round, every ACTIVE record that is a local rank minimum over its
ACTIVE TIGHT-neighbors (or tight-isolated) becomes a center
simultaneously — rank is a total order, so same-round centers are
never tight-adjacent, mirroring the sequential invariant that a
center is never within tight of a prior center. Membership and pool
removal then follow the sequential rule verbatim. Expected O(log n)
rounds on hash-random ids (the tight graph loses at least the
centers' neighborhoods per round); ``max_iterations`` guards the
adversarial ordering loudly.

Guarantees (tested):
- coverage: every record with at least one pair at ``sim >= loose``
  lands in >= 1 canopy (rows below ``loose`` are ignored, so records
  appearing only in sub-loose pairs are — like records with no pair at
  all — the caller's singletons, same contract as
  connected_components/star);
- center independence: no two centers are tight-adjacent;
- 1-hop membership: every member is loose-adjacent to its canopy's
  center (or IS the center) — like star, a chain can't smuggle a
  record into a canopy;
- deterministic: same pairs -> same canopies, driver or distributed
  (size-adaptive via ``driver_threshold``, parity-tested).

Spark shape per round: one groupBy for tight-neighbor minima, one
semi-join for the pool update, one join of the static loose adjacency
against the (small) center set for membership — cc.py's round shape,
with a ``localCheckpoint`` per round so lineage stays flat. The loose
adjacency is checkpointed ONCE and never filtered (membership draws
from all records); only the tight adjacency shrinks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from .cc import _driver_frame, _driver_sized

__all__ = ["canopy_clusters"]


def _driver_canopies(loose_rows, tight_rows, ranks, max_iterations):
    """Python twin of the distributed rounds — the EXACT same rule
    (parity-tested), used below ``driver_threshold``."""
    from collections import defaultdict

    loose = defaultdict(set)
    for a, b in loose_rows:
        loose[a].add(b)
        loose[b].add(a)
    tight = defaultdict(set)
    for a, b in tight_rows:
        tight[a].add(b)
        tight[b].add(a)
    active = set(ranks)
    out = []
    for _ in range(max_iterations):
        if not active:
            break
        centers = {
            v
            for v in active
            if all(
                ranks[v] < ranks[u] for u in tight[v] if u in active
            )
        }
        for c in centers:
            out.append((c, c))
            out.extend((m, c) for m in loose[c])
        active -= centers
        for c in centers:
            active -= tight[c]
    if active:
        raise RuntimeError(
            f"canopy_clusters: not converged after {max_iterations} rounds"
        )
    return out


def canopy_clusters(
    pairs: DataFrame,
    *,
    id1: str = "id1",
    id2: str = "id2",
    sim_col: str = "sim",
    loose: float,
    tight: float,
    max_iterations: int = 50,
    driver_threshold: int = 2_000_000,
) -> DataFrame:
    """→ DataFrame[node, canopy] (canopy = the center's id; a node may
    appear under SEVERAL canopies — that is the point). ``pairs`` is
    any cheap-similarity pair set (MinHash Jaccard, ppjoin output,
    blocked token overlap); rows below ``loose`` are ignored, rows at
    >= ``tight`` also drive pool removal. See module docstring."""
    if not loose <= tight:
        raise ValueError("canopy_clusters: need loose <= tight "
                         "(similarity convention)")
    e = (
        pairs.select(
            F.col(id1).alias("src"),
            F.col(id2).alias("dst"),
            F.col(sim_col).cast("double").alias("_s"),
        )
        .where(F.col("src") != F.col("dst"))
        .where(F.col("_s") >= loose)
        .select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
            "_s",
        )
        .groupBy("src", "dst")
        .agg(F.max("_s").alias("_s"))
        .localCheckpoint()
    )
    # the tight test stays a Spark comparison (NaN >= x holds in Spark)
    local = _driver_sized(
        e.select("src", "dst", (F.col("_s") >= tight).alias("tight")), driver_threshold
    )
    if local is not None:
        loose_rows = list(zip(local["src"].to_pylist(), local["dst"].to_pylist()))
        tight_rows = [r for r, t in zip(loose_rows, local["tight"].to_pylist()) if t]
        ranks = {v: v for r in loose_rows for v in r}
        out = sorted(set(_driver_canopies(loose_rows, tight_rows, ranks, max_iterations)))
        return _driver_frame(e, node=[v for v, _ in out], canopy=[c for _, c in out])

    loose_adj = e.select("src", "dst").unionAll(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint()
    tight_e = e.where(F.col("_s") >= tight)
    tight_adj = tight_e.select("src", "dst").unionAll(
        tight_e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    nodes = loose_adj.select(F.col("src").alias("a")).distinct()

    # distributed rounds; rank == node id (hash-random by pipeline
    # convention), carried inline so rounds never re-join a rank table
    tadj = tight_adj.select(
        F.col("src").alias("a"), F.col("dst").alias("b")
    ).localCheckpoint()
    remaining = nodes.localCheckpoint()
    memberships = []
    for _ in range(max_iterations):
        if remaining.count() == 0:
            break
        # centers: active nodes with no smaller-ranked ACTIVE tight
        # neighbor (tight-isolated actives have min(b) = null -> center)
        nbr_min = (
            remaining.join(tadj, remaining.a == tadj.a, "left")
            .groupBy(remaining.a)
            .agg(F.min(tadj.b).alias("nm"))
        )
        centers = nbr_min.where(
            F.col("nm").isNull() | (F.col("a") < F.col("nm"))
        ).select(F.col("a").alias("c")).localCheckpoint()
        # membership: the center itself + every loose neighbor (from
        # the STATIC loose adjacency — removed nodes still join)
        members = centers.select(
            F.col("c").alias("node"), F.col("c").alias("canopy")
        ).unionByName(
            loose_adj.join(centers, loose_adj.dst == centers.c).select(
                F.col("src").alias("node"), F.col("c").alias("canopy")
            )
        ).localCheckpoint()
        memberships.append(members)
        # pool: drop centers and their TIGHT neighbors
        removed = centers.select(F.col("c").alias("a")).unionByName(
            tadj.join(centers, tadj.a == centers.c).select(
                F.col("b").alias("a")
            )
        )
        remaining = remaining.join(removed, "a", "left_anti").localCheckpoint()
        tadj = (
            tadj.join(remaining, "a", "left_semi")
            .join(remaining.select(F.col("a").alias("b")), "b", "left_semi")
            .localCheckpoint()
        )
    if remaining.count() > 0:
        raise RuntimeError(
            f"canopy_clusters: not converged after {max_iterations} rounds "
            "— adversarially sorted ids along tight paths; hash the ids "
            "(xxhash64) or raise max_iterations"
        )
    if not memberships:
        return e.select(
            F.col("src").alias("node"), F.col("dst").alias("canopy")
        ).limit(0)
    out = memberships[0]
    for m in memberships[1:]:
        out = out.unionByName(m)
    return out.distinct()
