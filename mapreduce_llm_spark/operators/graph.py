"""Iterative connected components — the clustering stage of a dedup
pipeline (near-dup PAIRS are only half the job: survivors are chosen
per CLUSTER, and clusters are the transitive closure of the pairs).

Two branches, chosen from the input size alone. One bounded action
collects at most ``CC_LOCAL_EDGES + 1`` edges; when the whole edge list
fits, the driver labels it with a vectorized union-find (no rounds, no
further jobs). Above the bound the distributed rounds below run
unchanged, so the only added cost there is that one probe.

Distributed algorithm: alternating min-neighbor propagation and pointer
jumping (label(x) ← min(label(x), min_{y∈N(x)} label(y),
label(label(x)))), the standard O(log diameter) dataflow CC. Each
iteration is ONE hash-shuffle join of a message table against the label
map plus one keyed aggregate (round-15; previously three joins); the
driver loop stops at fixpoint and raises if ``max_iter`` rounds end
before it. Lineage is truncated with ``localCheckpoint`` every
``CC_CHECKPOINT_EVERY`` iterations — the per-iteration plan is
otherwise identical. Kiveris et al. (SoCC 2014) bound the number of
such rounds; the local branch is orthogonal and removes them altogether
for graphs under the bound.

Oracle strategy (q_graph_components): on the consecutive-event graph
(edges between successive events of a user ≤ 30 min apart) connected
components are BY CONSTRUCTION the gap-sessionization of the stream —
so the DuckDB twin labels sessions with a window cumsum and takes each
session's min event id. An iterative distributed algorithm hash-checked
against a closed-form SQL equivalent.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType
from pyspark.storagelevel import StorageLevel

# connected_components truncates lineage with localCheckpoint every
# this many iterations. Without it the plan grows by two joins per
# round until planning cost (and driver heap, for the plan tree alone)
# blows up — observed as an OOM after ~10 un-checkpointed rounds even
# on a 64-node graph.
CC_CHECKPOINT_EVERY = 5
# connected_components labels an edge list of at most this many rows on
# the driver (about 1.6 MB of int64 pairs) instead of running rounds.
CC_LOCAL_EDGES = 100_000


def _min_labels(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized union-find: (nodes, min node id of each one's
    component). Ids are ranked first, so a root's rank is its id's; roots
    hook onto the smaller root across every edge at once, then pointer
    jumping flattens every tree. Each hook round at least halves the
    roots that still have a neighbouring root."""
    nodes, ix = np.unique(np.concatenate([src, dst]), return_inverse=True)
    u, v = ix[: len(src)], ix[len(src) :]
    parent = np.arange(len(nodes))
    while True:
        pu, pv = parent[u], parent[v]
        if np.array_equal(pu, pv):
            return nodes, nodes[parent]
        np.minimum.at(parent, np.maximum(pu, pv), np.minimum(pu, pv))
        while True:
            jumped = parent[parent]
            if np.array_equal(jumped, parent):
                break
            parent = jumped


def connected_components(edges: DataFrame, max_iter: int = 25) -> DataFrame:
    """(src, dst) edge list (undirected; long ids) → (node, component)
    where component = min node id reachable. Isolated nodes are absent
    from the edge list and so from the output — union them in if the
    caller's node set is wider.

    One action first collects at most ``CC_LOCAL_EDGES + 1`` edges. If
    the edge list fits, it is labelled on the driver and the result is
    the same rows and schema the distributed rounds give. Otherwise the
    distributed rounds run; ``max_iter`` bounds only those: labels still
    changing after the last one raise ``RuntimeError`` rather than
    return unconverged components. Propagation plus pointer jumping
    converges in O(log diameter) rounds: a 4096-node path needs fewer
    than 25.
    """
    if max_iter < 1:
        raise ValueError(f"max_iter must be >= 1, got {max_iter}")
    sym = edges.select("src", "dst").union(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    # an Arrow collect is one job over the edge plan's last stage, each
    # partition shipping at most bound + 1 rows to one collecting task;
    # collect() would scan partitions in growing rounds, a job each
    probe = edges.select("src", "dst").limit(CC_LOCAL_EDGES + 1).toArrow()
    if probe.num_rows <= CC_LOCAL_EDGES:
        nodes, labels = _min_labels(
            probe.column("src").to_numpy(), probe.column("dst").to_numpy()
        )
        # the distributed branch's schema: node typed like the symmetrized
        # edge ids, component from a min aggregate (always nullable)
        node = sym.schema["src"]
        schema = StructType(
            [
                StructField("node", node.dataType, node.nullable),
                StructField("component", node.dataType, True),
            ]
        )
        return edges.sparkSession.createDataFrame(
            pa.table({"node": nodes, "component": labels}), schema
        )
    labels = (
        sym.groupBy("src")
        .agg(F.min("dst").alias("_nmin"))
        .select(
            F.col("src").alias("node"),
            F.least("src", "_nmin").alias("label"),
        )
        .cache()
    )
    # the generation currently held in executor storage (labels, or the
    # stamped frame it derives from); localCheckpoint generations are
    # NOT in the cache manager, so unpersist on them is a no-op
    cached = labels

    for it in range(max_iter):
        # Round-15 optimization (guide §2.4: fewer shuffles per
        # iteration): the update rule
        #   label'(x) = min(label(x), min_{y∈N(x)} label(y),
        #               label(label(x)))
        # previously ran as THREE shuffle joins (neighbor-min join +
        # pointer-jump self-join + final assembly join, ~7 exchanges).
        # All three terms are lookups of label[·] keyed by different
        # expressions, so they become ONE message table joined against
        # labels ONCE, then a keyed min:
        #   (tgt=src, key=dst)       → label(y) for y ∈ N(x)
        #   (tgt=node, key=label)    → label(label(x)) (pointer jump)
        #   (tgt=node, key=node)     → label(x) (self; also carries
        #                              the OLD label for the fixpoint
        #                              test via the key = tgt marker)
        # Per-iteration update values are identical term-for-term, so
        # the label trajectory and iteration count are unchanged.
        msgs = (
            sym.select(F.col("src").alias("tgt"), F.col("dst").alias("key"))
            .union(
                labels.select(
                    F.col("node").alias("tgt"), F.col("label").alias("key")
                )
            )
            .union(
                labels.select(
                    F.col("node").alias("tgt"), F.col("node").alias("key")
                )
            )
        )
        stamped = (
            msgs.join(
                labels.select(F.col("node").alias("key"), "label"), "key"
            )
            .groupBy("tgt")
            .agg(
                F.min("label").alias("_new"),
                # the self message (key == tgt) carries label(x); a
                # neighbor self-loop or a root's jump message matches
                # the predicate too but carries the same value
                F.min(
                    F.when(F.col("key") == F.col("tgt"), F.col("label"))
                ).alias("_old"),
            )
            .select(
                F.col("tgt").alias("node"),
                F.col("_old"),
                F.col("_new").alias("label"),
            )
            .cache()
        )
        changed = stamped.filter(F.col("label") != F.col("_old")).count()
        cached.unpersist()
        cached = stamped
        labels = stamped.select("node", "label")
        if (it + 1) % CC_CHECKPOINT_EVERY == 0:
            # localCheckpoint returns a NEW DataFrame backed by the
            # checkpoint files; drop the superseded generation's cache
            # (eager by default, so the data is safe before unpersist) —
            # otherwise every checkpoint leaves one dead cached
            # generation pinned in executor storage until LRU eviction.
            # SERIALIZED storage (MEMORY_AND_DISK is serialized in
            # PySpark) for the per-node label frame: it scales with
            # |V|, and the q_graph_bfs round-12 diagnosis showed a
            # default deserialized-row checkpoint of an SF-scaling
            # frame outgrowing executor storage at sf10 (eviction +
            # GC churn, decade-2 exponent 1.25 → 0.85 packed).
            checkpointed = labels.localCheckpoint(
                storageLevel=StorageLevel.MEMORY_AND_DISK
            )
            cached.unpersist()
            cached = checkpointed
            labels = checkpointed
        if changed == 0:
            break
    else:
        cached.unpersist()
        raise RuntimeError(
            f"connected_components did not converge in max_iter={max_iter} "
            f"rounds: {changed} labels still changing"
        )

    return labels.select("node", F.col("label").alias("component"))


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    *,
    iterations: int = 10,
    damping: float = 0.85,
) -> DataFrame:
    """Fixed-iteration PageRank over a (src, dst) directed edge list →
    (node, rank), ranks summing to 1.

    Each iteration is ONE shuffle join (ranks ⋈ edges on src) plus one
    aggregation on dst — the canonical dataflow PageRank; a 100 TB
    graph iterates in O(iterations) shuffles with no driver-side graph
    state. Specifics that matter for correctness and scale:

    - **Dangling nodes** (no out-edges) leak rank mass in the naive
      formulation; their aggregate mass is a 1-row sum redistributed
      uniformly each iteration, keeping sum(rank)=1 exactly (pinned to
      a numpy power-iteration reference in tests/test_graph.py).
    - **Lineage truncation EVERY iteration** (stricter than
      connected_components): each iteration's plan references the
      previous ranks THREE times (dangling-mass branch, contribution
      branch, final node join), so un-truncated lineage re-executes
      3^k plans — measured 46 s for 10 iterations on a 6 k-edge graph
      checkpointing every 5th iteration, 3 s checkpointing every one.
      The checkpoint materializes only O(|nodes|) rows.
    - The out-degree table is computed once and persisted — it is
      static across iterations.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .persist()
    )
    n_nodes = nodes.count()
    outdeg = e.groupBy("src").agg(F.count("*").alias("outdeg")).persist()
    ranks = nodes.select("node", F.lit(1.0 / n_nodes).alias("rank"))

    for _ in range(iterations):
        contrib_src = ranks.join(outdeg, ranks.node == outdeg.src, "left")
        # dangling mass: rank of nodes with no out-edges (outdeg null)
        dangling = (
            contrib_src.filter(F.col("outdeg").isNull())
            .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("dm"))
        )
        contribs = (
            contrib_src.filter(F.col("outdeg").isNotNull())
            .join(e, "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("rank") / F.col("outdeg")).alias("inflow"))
        )
        base = (1.0 - damping) / n_nodes
        ranks = (
            nodes.join(contribs, "node", "left")
            .crossJoin(F.broadcast(dangling))
            .select(
                "node",
                (
                    base
                    + damping
                    * (F.coalesce(F.col("inflow"), F.lit(0.0)) + F.col("dm") / n_nodes)
                ).alias("rank"),
            )
        )
        # serialized storage for the per-node rank frame — the same
        # SF-scaling-checkpoint rule as connected_components
        ranks = ranks.localCheckpoint(
            eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK
        )
    nodes.unpersist()
    outdeg.unpersist()
    return ranks


def kcore_peel_trace(edges: DataFrame, k: int, iters: int) -> DataFrame:
    """Bounded k-core peeling on an undirected (u, v) edge list:
    repeatedly drop nodes with induced degree < k and report the
    (iter, n_nodes, n_edges) trace after each peel — iteration 0 is
    the input graph. A FIXED iteration count (like ``pagerank``) keeps
    the result deterministic and oracle-replayable; callers wanting
    the fixpoint pick iters ≥ the graph's peel depth.

    Scale shape: each round is one map-side-combinable degree
    aggregate plus two semi-joins of the edge list against the
    surviving-node set — edges never self-join. The semi-joins are
    deliberately NOT hinted broadcast: in the early peels the
    surviving set is nearly the whole graph (a forced broadcast of it
    OOM'd the sf10 decade-stress run, ROUND9_NOTES), so the plan lets
    AQE pick shuffle joins while the set is large and flip to
    broadcast as it shrinks below the threshold. ``localCheckpoint``
    per round truncates lineage, the same discipline as
    ``connected_components``/``pagerank`` (an un-checkpointed loop
    re-evaluates every prior level once per downstream reference — the
    exact 3^iters plan explosion the pagerank oracle hit as DuckDB CTE
    inlining, ROUND7_NOTES). The per-level trace counts are
    materialized EAGERLY (two bounded scalar counts per level — the
    adjudicated bounded-collect class) so a superseded level's
    checkpointed edge list is released as soon as the next level
    exists, instead of all ``iters`` levels pinning block-manager
    memory until the final union evaluates."""
    spark = edges.sparkSession
    if iters <= 0:
        # advisor round 14: the eager level-0 stats used to run (and
        # emit one row) even for iters <= 0; preserve the documented
        # "fixed iteration count" boundary — no levels, no jobs.
        return spark.createDataFrame(
            [], "iter INT, n_nodes BIGINT, n_edges BIGINT"
        )
    # Edge-list checkpoints use SERIALIZED storage (MEMORY_AND_DISK is
    # serialized in PySpark): the q_graph_bfs round-12 diagnosis showed
    # the default deserialized-row cache of an SF-scaling pair frame
    # outgrowing executor storage at sf10 (eviction + GC churn) — the
    # packed form stays resident. Node-set checkpoints stay default:
    # one slim column, re-read twice per round, not storage-bound.
    e = edges.select("u", "v").localCheckpoint(
        eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK
    )

    # Round-14 optimization: every per-level statistic is read off the
    # checkpointed DEGREE frame (|surviving nodes| rows, ~edge-count/50)
    # in ONE 1-row aggregate action — n_nodes(0) is its row count
    # (every node in an edge list has degree ≥ 1), n_edges = Σd/2
    # (edges are distinct pairs, each counted at both endpoints), and
    # n_nodes(i+1) = count(d ≥ k) precomputed a level early. The
    # previous level shape paid two full .count() jobs (one a pass over
    # the million-row edge blocks) plus a SEPARATE eager checkpoint of
    # the survivor node set; the node set is now a lazy filter over the
    # cached degree frame (trivial rescan), and the degree pass itself
    # reads the edge blocks once via explode(array(u, v)) instead of
    # twice via unionAll. Per level: 2 checkpoint jobs + 1 tiny action,
    # down from 4 jobs + a full edge scan. Trace values are unchanged.
    def _deg_stats(e_ckpt: DataFrame):
        deg = (
            e_ckpt.select(F.explode(F.array("u", "v")).alias("n"))
            .groupBy("n")
            .agg(F.count("*").alias("d"))
            .localCheckpoint(eager=True)
        )
        s = deg.agg(
            F.count(F.lit(1)).alias("nn"),
            F.sum("d").alias("sd"),
            F.count(F.when(F.col("d") >= k, 1)).alias("nk"),
        ).first()
        return deg, s["nn"], int(s["sd"] or 0) // 2, s["nk"]

    deg, nn, ne, nk = _deg_stats(e)
    trace_rows: list[tuple[int, int, int]] = [(0, nn, ne)]
    # Round-15 optimization (VERDICT r14 item 3, guide §2.4/§5): the
    # induced subgraph at level i equals the FROZEN BASE restricted to
    # the level-i survivor set (node sets shrink monotonically, and
    # restriction to a smaller set is independent of intermediate
    # restrictions), so a level does NOT need the previous level's
    # edge list materialized — the per-level eager checkpoint rewrote
    # ~1.1M edge rows per level on the TPC-H graph for a 1-7% shrink.
    # Each level now derives its degree frame by semi-joining the base
    # checkpoint against the current survivor set (the semi-joins were
    # already paid inside the old checkpoint job; the full edge-list
    # WRITE per level is what disappears). Shape-adaptivity: on a
    # hard-peeling graph, scanning the fat base every level would
    # waste the shrink, so when the previous level's edge count drops
    # below _REMAT_FRACTION of the materialized base the induced frame
    # is re-checkpointed as the new base — amortized O(log) rewrites,
    # each at most doubling the optimal scan volume. Trace values are
    # identical either way (same induced graphs).
    _REMAT_FRACTION = 0.6
    ne_base = ne  # edge rows in the currently-materialized base
    for it in range(1, iters):
        nodes = deg.where(F.col("d") >= k).select("n")
        cur = (
            e.join(nodes.select(F.col("n").alias("u")), "u", "left_semi")
            .join(nodes.select(F.col("n").alias("v")), "v", "left_semi")
            .select("u", "v")
        )
        rematerialized = ne < _REMAT_FRACTION * ne_base
        if rematerialized:
            cur = cur.localCheckpoint(
                eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK
            )
            e = cur
        nn = nk  # |{n : deg_{it-1}(n) ≥ k}|, computed a level early
        if it == iters - 1:
            # last level: only the edge count is still needed
            trace_rows.append((it, nn, cur.count()))
            break
        deg, _, ne, nk = _deg_stats(cur)
        if rematerialized:
            ne_base = ne
        trace_rows.append((it, nn, ne))
    return spark.createDataFrame(
        trace_rows, "iter INT, n_nodes BIGINT, n_edges BIGINT"
    ).orderBy("iter")
