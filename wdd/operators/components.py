"""J4 — connected components over the candidate-pair graph.

`connected_components` deduplicates the edge list, materializes it once and
counts it, then picks one of two paths by that edge count:

* At most DRIVER_CC_MAX_EDGES edges: the (a, b) pairs are collected over
  Arrow (16 B per edge) and labeled on the driver by `label_components`, a
  numpy union-find that hooks roots onto smaller roots and shortcuts with
  pointer jumping (Shiloach-Vishkin style). The labels come back as a small
  local frame. One collect replaces the star path's per-contraction jobs,
  which on small graphs cost driver round trips, not data work.
  CCResult.iterations counts hooking rounds.

* Above the bound: the alternating large-star / small-star edge contraction
  (Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC'14),
  the standard shuffle-friendly CC for graphs larger than driver memory:

    large-star: every node attaches its strictly-larger neighbors to the
                minimum of its closed neighborhood;
    small-star: every node attaches its smaller-or-equal neighbors (and
                itself) to that minimum.

  Alternating the two converges in O(log n) rounds to a forest of stars
  whose centers are the component minima. Each round is one groupBy + one
  join over the current edge list — no per-node iteration, no long-chain
  stalls (plain hash-min label propagation needs O(chain length) rounds on
  random-id chains, measured 15+ rounds on the sf0.1 near-dup graph vs 4-6
  here). Every contraction localCheckpoints the edge list to cut lineage
  (SURVEY.md §4.3); convergence = the edge-set signature (count + two
  64-bit hash sums) of a sync equal to the previous sync's.
  CCResult.iterations counts executed contraction rounds.

Both paths label every vertex with the minimum id of its component, so
their labels are identical.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from wdd.operators.pairs import drop_checkpoint_blocks

# Largest deduplicated edge count labeled on the driver. Measured on a
# 4-core host at local[4], random graphs of mean degree 2, call plus one
# aggregate over the labels, driver path vs star path:
#   1e4 edges: 0.55 s vs 6.9 s     1e5 edges: 1.0-1.9 s vs 11.4-12.3 s
#   1e6 edges: 6.5-12.3 s vs 46-49 s    2e6 edges: 11.7-12.4 s vs (not run)
# The driver path wins at every size, so driver memory sets the bound:
# peak driver Python RSS was 272 MB at 1e6 edges and 403 MB at 2e6, and
# the labels are held in the driver JVM as a local relation (~2 rows per
# edge at most). Larger graphs take the star path.
DRIVER_CC_MAX_EDGES = 2_000_000


@dataclass
class CCResult:
    labels: DataFrame      # (id, cluster_id)
    iterations: int
    converged: bool


def _persistent_rdd_ids(sc) -> set[int]:
    """Ids of RDDs currently pinned in the block manager (checkpoint blocks
    included). py4j-surface dependent; degrades to 'no cleanup' if absent."""
    try:
        return {int(i) for i in sc._jsc.getPersistentRDDs().keySet().toArray()}
    except Exception:
        return set()


def _unpersist_rdds(sc, ids: set[int]) -> None:
    """Drop superseded per-round localCheckpoint blocks. Each CC round only
    reads the PREVIOUS round's checkpoint, so once round r is materialized,
    blocks from rounds < r are dead — without this, long runs accumulate
    blocks until eviction pressure (round-1 ADVICE)."""
    try:
        m = sc._jsc.getPersistentRDDs()
        for i in ids:
            r = m.get(i)
            if r is not None:
                r.unpersist(False)
    except Exception:
        pass


def label_components(a: np.ndarray, b: np.ndarray
                     ) -> tuple[np.ndarray, np.ndarray, int]:
    """Connected components of the graph with edges (a[i], b[i]).

    Returns (ids, labels, rounds): every distinct endpoint id in ascending
    order, the minimum id of its component, and the number of hooking
    rounds. Each round hooks, for every edge whose endpoints sit under
    different roots, the larger root onto the smallest root it touches,
    then pointer-jumps until every vertex points at a root. Parents only
    ever decrease, so the trees stay acyclic and each root is its
    component's minimum dense index — which is the minimum id, because
    np.unique sorts. Random-id cycles of 1e5 and 1e6 edges took 10 and 13
    rounds; plain min-label propagation needs O(diameter) rounds."""
    ids, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
    u, v = inv[:len(a)], inv[len(a):]
    parent = np.arange(len(ids))
    rounds = 0
    while True:
        ru, rv = parent[u], parent[v]
        cross = ru != rv
        if not cross.any():
            break
        rounds += 1
        # an edge inside one tree stays inside one tree: drop it for good
        u, v, ru, rv = u[cross], v[cross], ru[cross], rv[cross]
        np.minimum.at(parent, np.maximum(ru, rv), np.minimum(ru, rv))
        while True:
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped
    return ids, ids[parent], rounds


def _with_isolated(labels: DataFrame, vertices: DataFrame | None
                   ) -> DataFrame:
    """(id, label) plus every vertex absent from `labels` as its own
    component, renamed to (id, cluster_id)."""
    if vertices is not None:
        isolated = (vertices.select(F.col("id").cast("long").alias("id"))
                    .dropDuplicates(["id"])
                    .join(labels.select("id"), "id", "left_anti")
                    .withColumn("label", F.col("id")))
        labels = labels.union(isolated)
    return labels.withColumnRenamed("label", "cluster_id")


def _large_star(e: DataFrame) -> DataFrame:
    sym = e.select(F.col("a").alias("u"), F.col("b").alias("v")).union(
        e.select(F.col("b").alias("u"), F.col("a").alias("v")))
    mins = (sym.groupBy("u").agg(F.min("v").alias("mn"))
            .select("u", F.least("u", "mn").alias("m")))
    return (sym.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .where(F.col("a") != F.col("b"))
            .dropDuplicates(["a", "b"]))


def _small_star(e: DataFrame) -> DataFrame:
    dir_ = e.select(F.greatest("a", "b").alias("u"),
                    F.least("a", "b").alias("v"))
    mins = dir_.groupBy("u").agg(F.min("v").alias("m"))
    out_nbrs = (dir_.join(mins, "u")
                .where(F.col("v") != F.col("m"))
                .select(F.col("v").alias("a"), F.col("m").alias("b")))
    out_self = mins.select(F.col("u").alias("a"), F.col("m").alias("b"))
    return (out_nbrs.union(out_self)
            .where(F.col("a") != F.col("b"))
            .dropDuplicates(["a", "b"]))


def connected_components(edges: DataFrame, vertices: DataFrame | None = None,
                         max_iter: int = 25,
                         rounds_per_sync: int = 2) -> CCResult:
    """edges: (a, b) long ids; vertices: optional (id) frame for isolated
    nodes. Returns every vertex labeled with cluster_id = its component min.

    rounds_per_sync chains that many large+small contraction rounds into ONE
    materialization + convergence check: each sync point is a driver round
    trip whose fixed latency (~1-1.5 s on local mode) dominates small-graph
    rounds — measured 7 rounds = ~10 s FLAT from 2 to 8 cores, i.e. pure
    serial fraction. Chaining halves the sync points at the cost of at most
    rounds_per_sync-1 extra (cheap, already-converged) contractions; the
    fixpoint is identical.

    CCResult.iterations counts EXECUTED contraction rounds (sync points x
    rounds_per_sync) — an upper bound on the rounds the graph needed, since
    the fixpoint may be reached partway through a chained sync. max_iter
    bounds sync points, so at most rounds_per_sync * max_iter contractions
    run.

    Graphs of at most DRIVER_CC_MAX_EDGES deduplicated edges are labeled
    on the driver instead (module docstring); max_iter and rounds_per_sync
    apply to the star path only."""
    sc = edges.sparkSession.sparkContext
    baseline = _persistent_rdd_ids(sc)
    e = (edges.select(F.col("a").cast("long").alias("a"),
                      F.col("b").cast("long").alias("b"))
         .where(F.col("a") != F.col("b"))
         .dropDuplicates(["a", "b"])
         .localCheckpoint(eager=False))  # materialized by the first _signature

    def _signature(edges_df) -> tuple:
        """Order-insensitive edge-set fingerprint in ONE cheap aggregate
        (replaces an exceptAll shuffle per round): count + two independent
        64-bit hash sums. A false convergence needs a simultaneous collision
        in both 64-bit sums at equal count (~2^-128)."""
        row = edges_df.select(
            F.count(F.lit(1)).alias("n"),
            # bit_xor: order-insensitive, overflow-free under ANSI mode
            F.expr("bit_xor(xxhash64(a, b))").alias("h1"),
            F.expr("bit_xor(xxhash64(b, a, 7))").alias("h2"),
        ).collect()[0]
        return (row.n, row.h1, row.h2)

    prev_sig = _signature(e)
    if prev_sig[0] <= DRIVER_CC_MAX_EDGES:
        edge_table = e.toArrow()
        ids, mins, rounds = label_components(
            edge_table.column("a").to_numpy(),
            edge_table.column("b").to_numpy())
        # the labels are local data now: e's checkpoint blocks are dead
        drop_checkpoint_blocks(e)
        labels = edges.sparkSession.createDataFrame(
            pa.table({"id": ids, "label": mins}))
        return CCResult(labels=_with_isolated(labels, vertices),
                        iterations=rounds, converged=True)

    iterations, converged = 0, False
    for sync in range(1, max_iter + 1):
        # eager=False: the signature aggregate below is the action that
        # materializes the checkpoint — one Spark job per sync instead of
        # two (each sync is driver-synchronized, so saved jobs are saved
        # serial time; measured ~0.2s/round on an idle scheduler)
        superseded = _persistent_rdd_ids(sc) - baseline
        e2 = e
        for _ in range(rounds_per_sync):
            # localCheckpoint after EVERY star contraction, not once per
            # sync: each star references its input 3-4x, so an unbroken
            # k-contraction lineage grows the Catalyst tree ~4^k and
            # toRdd planning inside the sync-end localCheckpoint cost a
            # measured 1.3-3 s of SERIAL driver time per sync (the flat
            # 2-to-8-core component the rounds_per_sync docstring notes).
            # Truncating at every contraction keeps every planned tree
            # one-star deep: sync build 1.7 s -> 0.8 s, action 0.12 ->
            # 0.07 s on a 20k-edge graph. Shuffle volume is unchanged;
            # the extra checkpoint stores one intermediate edge list per
            # contraction (16 B/row), released by the per-sync cleanup.
            # All checkpoints are eager=False: the signature aggregate
            # below materializes the whole chain in ONE job.
            e2 = _large_star(e2).localCheckpoint(eager=False)
            e2 = _small_star(e2).localCheckpoint(eager=False)
        sig = _signature(e2)            # materializes e2's checkpoint...
        _unpersist_rdds(sc, superseded)  # ...making every prior sync's dead
        e = e2
        iterations = sync * rounds_per_sync
        if sig == prev_sig:
            converged = True
            break
        prev_sig = sig

    # at the fixpoint every edge is (node -> component min)
    labels = e.select(F.col("a").alias("id"), F.col("b").alias("label"))
    centers = e.select(F.col("b").alias("id")).dropDuplicates(["id"]) \
        .join(labels.select("id"), "id", "left_anti") \
        .withColumn("label", F.col("id"))
    labels = labels.union(centers)
    return CCResult(
        labels=_with_isolated(labels, vertices),
        iterations=iterations,
        converged=converged,
    )


def hash_min_components(edges: DataFrame, vertices: DataFrame | None = None,
                        max_iter: int = 50) -> CCResult:
    """Plain iterative hash-min label propagation (the north rule's literal
    algorithm): every vertex repeatedly adopts the minimum label in its
    closed neighborhood until a fixpoint.

    Kept as a reference implementation with label parity to
    `connected_components` asserted in tests: min-propagation needs
    O(diameter) rounds (measured 2-3x the rounds of the star contraction on
    the sf0.1 near-dup graph, and O(chain length) worst case on path
    graphs), so the alternating large-star/small-star contraction is the
    default everywhere in the engine. Each round here is one groupBy over
    the static symmetric edge list plus one join — same shuffle shape per
    round, just more rounds.
    """
    e = (edges.select(F.col("a").cast("long").alias("a"),
                      F.col("b").cast("long").alias("b"))
         .where(F.col("a") != F.col("b"))
         .dropDuplicates(["a", "b"]))
    sym = (e.select(F.col("a").alias("u"), F.col("b").alias("v"))
           .union(e.select(F.col("b").alias("u"), F.col("a").alias("v")))
           .localCheckpoint(eager=True))
    labels = (sym.select("u").union(sym.select(F.col("v").alias("u")))
              .dropDuplicates(["u"])
              .withColumn("label", F.col("u"))
              .localCheckpoint(eager=True))
    # baseline AFTER sym/labels: those live for every round and must never
    # be dropped; only superseded per-round label checkpoints are released
    sc = edges.sparkSession.sparkContext
    baseline = _persistent_rdd_ids(sc)

    def _label_sum(lab) -> tuple:
        row = lab.select(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(u, label))").alias("h"),
        ).collect()[0]
        return (row.n, row.h)

    iterations, converged = 0, False
    prev = _label_sum(labels)
    for iterations in range(1, max_iter + 1):
        # neighbor minima: one groupBy over (edge ⋈ label); self included
        nbr_min = (sym.join(labels.withColumnRenamed("u", "v"), "v")
                   .groupBy("u").agg(F.min("label").alias("nbr")))
        superseded = _persistent_rdd_ids(sc) - baseline
        labels = (labels.join(nbr_min, "u", "left")
                  .select("u", F.least("label", F.coalesce("nbr", "label"))
                          .alias("label"))
                  .localCheckpoint(eager=False))
        cur = _label_sum(labels)         # materializes the new checkpoint
        _unpersist_rdds(sc, superseded)  # prior rounds' label blocks are dead
        if cur == prev:
            converged = True
            break
        prev = cur

    labels = labels.select(F.col("u").alias("id"), F.col("label"))
    return CCResult(
        labels=_with_isolated(labels, vertices),
        iterations=iterations,
        converged=converged,
    )
