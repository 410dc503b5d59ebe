"""Connected components over a pair/edge DataFrame — the clustering
step of fuzzy deduplication ([EXT], SURVEY.md §7 step 7): near-dup
PAIRS (MinHash/SimHash/Jaccard output) must be grouped into CLUSTERS
so one canonical document per cluster survives. Pair emission alone
under-deletes: A~B and B~C puts A,C in the same cluster only through
transitive closure.

Algorithm: iterative min-label propagation. Each round every node
adopts the minimum component label among itself and its neighbors;
convergence in O(graph diameter) rounds. Near-dup graphs are unions
of small dense clusters (diameter 2-3 in practice), so 3-5 rounds
settle real corpora. Per round: one shuffle join (edges × labels) and
one min-aggregate — both on 16-byte (node, label) pairs, never text.

100 TB posture:
- the edge list is symmetrized once and cached; per-round state is
  two longs per node;
- ``localCheckpoint`` after every round truncates the lineage so the
  plan does not grow linearly with iterations (classic iterative-
  algorithm failure mode on Spark);
- convergence is detected with an aggregate (count of changed
  labels), not a collect;
- for adversarial high-diameter graphs switch to the large-star /
  small-star formulation (Kiveris et al., "Connected Components in
  MapReduce and Beyond", SoCC'14) which converges in O(log² n) —
  same join/agg primitives, more rounds of them; dedup graphs do not
  need it.
"""

from __future__ import annotations

import itertools

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from .cache import checkpoint, persist, release

# Spark's Observation listener matches completed executions by metric
# name; a per-round-index name (cc_round_0) collides when two
# invocations of the same operator run concurrently in one session
# (e.g. a streaming funnel batch plus an ad-hoc query) and can
# cross-deliver convergence metrics between them. A process-wide
# monotonically increasing id makes every observation name unique.
_OBS_ID = itertools.count()

__all__ = ["connected_components", "connected_components_star",
           "connected_components_auto"]


class ConvergenceError(RuntimeError):
    """An iterative operator exhausted its round budget before its
    convergence criterion held. Distinct from RuntimeError so auto-
    fallback wrappers do not mask unrelated runtime failures."""


def connected_components_auto(edges: DataFrame, src: str = "src",
                              dst: str = "dst",
                              max_iter: int = 25) -> DataFrame:
    """The diameter-unknown default: run min-label propagation (fast
    on the small dense clusters typical of near-dup graphs, one
    join+agg per round), and if the graph's diameter exhausts its
    round budget, fall back to the large/small-star formulation whose
    O(log² n) round count is diameter-independent. Safe because both
    variants return the identical (node, component=min-id) labeling
    and the min-label operator now RAISES rather than returning
    mid-propagation labels. Only the dedicated ConvergenceError
    triggers the fallback — any other runtime failure surfaces."""
    try:
        return connected_components(edges, src=src, dst=dst,
                                    max_iter=max_iter)
    except ConvergenceError:
        return connected_components_star(edges, src=src, dst=dst)


def connected_components(edges: DataFrame, src: str = "src",
                         dst: str = "dst", max_iter: int = 25) -> DataFrame:
    """Return ``(node, component)`` for every node in ``edges``, where
    ``component`` is the minimum node id in the node's connected
    component. Undirected: each input pair connects both endpoints.

    Design note (measured, round 4): a label(label) pointer-jumping
    shortcut was tried and REVERTED — on real near-dup/mutual-kNN
    graphs the propagated minimum is usually already its own
    component's low id, so the jump is a no-op almost everywhere
    (9 → 8 rounds on the diameter-9 mutual-kNN graph, for one extra
    join per round). O(log)-round convergence genuinely requires the
    two-phase star contraction — that is
    :func:`connected_components_star`, and
    :func:`connected_components_auto` falls back to it.
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    sym = persist(e.union(e.select(F.col("b").alias("a"),
                                   F.col("a").alias("b")))
                   .distinct())
    # Round 1 needs no join: every node's first label is
    # min(self, neighbors), computable straight off the edge list.
    labels = checkpoint(sym.groupBy(F.col("a").alias("node"))
                           .agg(F.min("b").alias("nmin"))
                           .select("node", F.least("node", "nmin")
                                   .alias("component")))
    converged = False
    for i in range(max_iter):
        neighbor_min = (sym.join(labels, sym["b"] == labels["node"])
                           .groupBy(F.col("a").alias("node"))
                           .agg(F.min("component").alias("neighbor_min")))
        # Fold the neighbor minimum in with a left join and carry a
        # per-node `changed` flag. Convergence detection rides the
        # checkpoint materialization itself via observe() metrics —
        # zero extra job per round (a separate .count(), even over
        # checkpointed blocks, paid one full job-scheduling round
        # trip per iteration).
        obs = Observation(f"cc_round_{i}_{next(_OBS_ID)}")
        new_state = checkpoint(
            labels.join(neighbor_min, "node", "left")
                  .select("node",
                          F.least("component",
                                  F.coalesce("neighbor_min", "component"))
                           .alias("component"),
                          (F.col("neighbor_min")
                           < F.col("component")).alias("changed"))
                  .observe(obs, F.sum(F.col("changed").cast("int"))
                                 .alias("n_changed")))
        # new_state is materialized (eager); round N-1's checkpoint
        # blocks are dead — free them now instead of waiting for GC
        release(labels)
        labels = new_state.select("node", "component")
        if not obs.get["n_changed"]:
            converged = True
            break
    release(sym)
    if not converged:
        # Returning here would emit labels that are NOT component
        # minima (a path longer than max_iter rounds is still mid-
        # propagation) — silently-wrong clusters. Fail loudly; the
        # caller either raises max_iter or switches to the O(log^2 n)
        # star formulation, whose rounds scale with log(diameter).
        # Free the final round first: the auto-fallback's star run
        # would otherwise sit on top of it.
        release(labels)
        raise ConvergenceError(
            f"connected_components did not converge in {max_iter} "
            f"rounds (graph diameter exceeds max_iter); use "
            f"connected_components_star for high-diameter graphs")
    return labels


def connected_components_star(edges: DataFrame, src: str = "src",
                              dst: str = "dst",
                              max_iter: int = 40) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC'14) — the O(log² n)-round algorithm for graphs whose
    DIAMETER breaks min-label propagation (a path of n nodes needs
    ~n label rounds but ~log² n star rounds).

    One round = two groupBy-min + join passes over the edge list:

    - large-star: every node u computes m = min(Γ(u) ∪ {u}) and
      rewires each LARGER neighbor v > u to m — long chains collapse
      toward minima from every node simultaneously;
    - small-star: on the ≤-oriented edges, u rewires itself and all
      smaller neighbors to their collective minimum — turning local
      minima into star centers.

    Convergence: the edge set is a fixpoint (every edge already
    (node → component-min)); detected with an exact anti-join count,
    not a collect. Labels: each non-center node's single neighbor is
    its component; centers label themselves. Same contract as
    :func:`connected_components` (nodes appearing in ``edges``;
    component = min node id), and pinned equal to it in tests — use
    this variant when cluster diameter is unbounded (chains of
    near-dup pairs, long citation/link paths); min-label when
    clusters are small and dense (typical near-dup corpora).
    """
    e0 = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # node set BEFORE dropping self-loops: a node whose only edge is
    # (n, n) is still its own singleton component — matching
    # connected_components' contract over its symmetrized edge set
    all_nodes = persist(e0.select(F.col("a").alias("node"))
                          .union(e0.select(F.col("b").alias("node")))
                          .distinct())
    e = e0.filter(F.col("a") != F.col("b"))
    # canonical undirected pair set (x < y)
    pairs = checkpoint(e.select(F.least("a", "b").alias("x"),
                                F.greatest("a", "b").alias("y"))
                        .distinct())

    converged = False
    prev_count = pairs.count()
    for i in range(max_iter):
        sym = pairs.select(F.col("x").alias("u"), F.col("y").alias("v")) \
                   .union(pairs.select(F.col("y").alias("u"),
                                       F.col("x").alias("v")))
        # large-star: m(u) = min over Γ(u) ∪ {u}; rewire v > u to m
        mins = sym.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m"))
        # no distinct here: duplicate edges are harmless to the
        # small-star min-groupBy below (min is idempotent) and the ss
        # distinct canonicalizes the round output — dropping the
        # intermediate dedup removes one shuffle per round
        ls = (sym.join(mins, "u")
                 .filter(F.col("v") > F.col("u"))
                 .select(F.least("v", "m").alias("x"),
                         F.greatest("v", "m").alias("y"))
                 .filter(F.col("x") != F.col("y")))
        # small-star over ≤-oriented edges of the large-star output:
        # u and its smaller neighbors all rewire to their minimum
        down = ls.select(F.col("y").alias("u"), F.col("x").alias("v"))
        smins = down.groupBy("u").agg(F.min("v").alias("m"))
        obs = Observation(f"star_round_{i}_{next(_OBS_ID)}")
        ss = checkpoint(down.join(smins, "u")
                            .select(F.col("v").alias("n"), "m")
                            .union(smins.select(F.col("u").alias("n"),
                                                "m"))
                            .filter(F.col("n") != F.col("m"))
                            .select(F.least("n", "m").alias("x"),
                                    F.greatest("n", "m").alias("y"))
                            .distinct()
                            .observe(obs, F.count(F.lit(1)).alias("cnt")))
        # Fixpoint test: both sides are DISTINCT canonical (x<y) sets,
        # so |ss| == |pairs| plus ss\pairs == ∅ implies equality. The
        # count rides the checkpoint materialization via observe()
        # (zero extra job), and on every shrinking round it already
        # proves "changed" — the anti-join (the expensive half) runs
        # only on the one round where counts first agree, not 2× per
        # round.
        ss_count = obs.get["cnt"]
        converged = ss_count == prev_count and \
            ss.join(pairs, ["x", "y"], "left_anti").count() == 0
        prev_count = ss_count
        # round N-1's edge-set checkpoint is dead (ss is materialized
        # and the fixpoint test above already ran) — free its blocks
        # so storage stays O(1) in rounds (the 18-62s in-session
        # spread of dedup_clusters_star traced to this accumulation)
        release(pairs)
        pairs = ss
        if converged:
            break
    if not converged:
        # The label-extraction step below assumes a star forest; a
        # non-fixpoint edge set can put one node on the y side of two
        # different edges and emit conflicting (node, component) rows.
        # O(log^2 n) rounds bounds any graph, so hitting this means
        # max_iter was set far too low — raise rather than return
        # possibly-inconsistent labels.
        release(all_nodes)
        release(pairs)
        raise ConvergenceError(
            f"connected_components_star did not reach an edge-set "
            f"fixpoint in {max_iter} rounds; raise max_iter "
            f"(O(log^2 n) rounds suffice for any graph)")

    # fixpoint is a star forest: every y's single partner is its
    # component min; centers (never on the y side) label themselves
    labels = pairs.select(F.col("y").alias("node"),
                          F.col("x").alias("component"))
    centers = (all_nodes.join(labels, "node", "left_anti")
                        .select("node", F.col("node").alias("component")))
    out = labels.union(centers)
    release(all_nodes)
    return out
