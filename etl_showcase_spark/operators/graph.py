"""Distributed connected components (SURVEY.md §2.13 extension): turn
near-duplicate PAIRS (MinHash/SimHash/embedding output) into duplicate
CLUSTERS — the step a dedup pipeline needs before picking one canonical
representative per cluster.

One operator, two execution paths, chosen from the edge count that the
input checkpoint observes:

- **One task.** An edge list of at most ``_ONE_TASK_MAX_EDGES`` edges
  goes whole to one executor task, which runs a path-halving union-find
  and emits ``(id, min id)``. The plan stays lazy and no data reaches
  the driver; a small graph costs one task instead of a chain of
  per-round jobs.
- **FastSV rounds** (Zhang, Azad & Hu, "FastSV: a distributed-memory
  connected component algorithm with fast convergence", SIAM PP 2020).
  Each round hooks every node's parent and the node itself to the
  smallest grandparent label across its edges (stochastic and
  aggressive hooking), then shortcuts to its own grandparent. Unlike
  min-label propagation with pointer doubling, which needs O(diameter)
  rounds when ids are not ordered along a path, grandparent hooking
  converges in O(log n) rounds in practice: 8 or 9 for a 200-node path
  with shuffled ids, 14 for a 5,000-node one. Each round ends in one
  localCheckpoint, so the plan doesn't grow with the rounds.

Edges with a null endpoint are dropped; nodes appear only through
their edges.
"""

from __future__ import annotations

from typing import Callable, Iterator

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from ..caching import tracked_persist

# The largest edge list solved in one task: the largest size measured.
# On a 4-core box (local[4]), on random and cluster-shaped graphs of
# 50k-1.4M edges, the one-task solve beat the FastSV rounds at every
# size: 0.6 s against 3.9-5.1 s at 50k edges, 4.1-4.2 s against
# 32-53 s at 1.4M. Its one Python task holds ~200 B per edge (1.4M
# edges: +290 MB peak RSS); past this size neither side was measured.
_ONE_TASK_MAX_EDGES = 1_400_000


def _make_cc_solver() -> Callable[[Iterator], Iterator]:
    """Build the one-task solve: a ``mapInArrow`` function over all of
    the (a, b) edge batches that yields one (id, component) batch.

    Defined as a nested function so cloudpickle ships it BY VALUE to
    executor Python workers, which may run where this package isn't
    importable; nothing executor-bound may pickle by module reference.
    """

    def _solve(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        a_parts, b_parts = [], []
        for rb in batches:
            if rb.num_rows:
                a_parts.append(rb.column(0))
                b_parts.append(rb.column(1))
        if not a_parts:
            return
        a, b = pa.concat_arrays(a_parts), pa.concat_arrays(b_parts)
        # nodes in id order: index order is id order, so the smallest
        # index of a set is its smallest id
        nodes = pc.unique(pa.concat_arrays([a, b]))
        nodes = nodes.take(pc.sort_indices(nodes))
        ia = pc.index_in(a, value_set=nodes).to_pylist()
        ib = pc.index_in(b, value_set=nodes).to_pylist()
        # union-find with path halving; a root always adopts the larger
        # root, so parent[x] <= x holds throughout
        parent = list(range(len(nodes)))
        for x, y in zip(ia, ib):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            while parent[y] != y:
                parent[y] = parent[parent[y]]
                y = parent[y]
            if x < y:
                parent[y] = x
            elif y < x:
                parent[x] = y
        # parent[i] <= i: in index order each parent is already a root
        for i in range(len(parent)):
            parent[i] = parent[parent[i]]
        yield pa.RecordBatch.from_arrays(
            [nodes, nodes.take(pa.array(parent))], names=["id", "component"]
        )

    return _solve


def _fastsv_round(e: DataFrame, state: DataFrame | None) -> DataFrame:
    """One FastSV round over the symmetric edges ``e`` (a, b) and the
    state (id, f = parent, gf = grandparent); returns the next state.
    Every candidate label for a node's new parent is min-aggregated,
    then the new grandparents are read off the new parents. ``state``
    None is the first round, where f = gf = id: every node hooks to
    its smallest neighbour, and no state join is needed."""
    if state is None:
        parents = (
            e.groupBy(F.col("b").alias("id"))
            .agg(F.min("a").alias("m"))
            .select("id", F.least("id", "m").alias("f"))
        )
    else:
        # each node's own (f, gf) row and its neighbours' grandparents
        # meet in ONE aggregate: a union, not a second join on id
        near = e.join(state.select(F.col("id").alias("a"), F.col("gf").alias("m")), "a")
        node = (
            state.unionByName(near.select(F.col("b").alias("id"), "m"), allowMissingColumns=True)
            .groupBy("id")
            .agg(F.max("f").alias("f"), F.max("gf").alias("gf"), F.min("m").alias("m"))
        )
        candidates = node.select(
            F.explode(
                F.array(
                    # shortcutting (parent := grandparent, as gf <= f) and
                    # aggressive hooking (parent := neighbours' min)
                    F.struct("id", F.least("gf", "m").alias("f")),
                    # stochastic hooking: the parent's parent := the same
                    F.struct(F.col("f").alias("id"), F.col("m").alias("f")),
                )
            ).alias("c")
        ).select("c.id", "c.f")
        parents = candidates.groupBy("id").agg(F.min("f").alias("f"))
    up = parents.select(F.col("id").alias("f"), F.col("f").alias("gf"))
    return parents.join(up, "f").select("id", "f", "gf")


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """Return (id, component) with component = min node id reachable.

    ``edges`` is undirected (each pair listed once is enough); an edge
    with a null endpoint is dropped. Edge lists of at most
    ``_ONE_TASK_MAX_EDGES`` edges are solved in one executor task (see
    the module docstring); larger ones run FastSV rounds, at most
    ``max_iter`` of them. Ids keep the wider type of ``src`` and
    ``dst``.
    """
    if max_iter < 1:
        raise ValueError("max_iter must be >= 1")
    # the common type of both endpoints, as a union of the two would widen
    id_type = edges.select(F.coalesce(src, dst)).schema[0].dataType
    # Materialize the caller's edge pipeline ONCE: for the near-dup
    # callers it is a banded window plus two verify joins over the whole
    # corpus, and every later step (both orientations, every round)
    # reads it. The edge count rides along on the same job.
    counted = Observation()
    ein = (
        edges.select(F.col(src).cast(id_type).alias("a"), F.col(dst).cast(id_type).alias("b"))
        .filter(F.col("a").isNotNull() & F.col("b").isNotNull())
        .observe(counted, F.count(F.lit(1)).alias("n"))
        .localCheckpoint()
    )
    if counted.get["n"] <= _ONE_TASK_MAX_EDGES:
        # the input is materialized, so a narrow coalesce hands every
        # partition to the one task without a shuffle
        schema = StructType([StructField("id", id_type), StructField("component", id_type)])
        return ein.coalesce(1).mapInArrow(_make_cc_solver(), schema)

    e = ein.select(
        F.explode(
            F.array(
                F.struct(F.col("a"), F.col("b")),
                F.struct(F.col("b").alias("a"), F.col("a").alias("b")),
            )
        ).alias("e")
    ).select("e.a", "e.b")
    # Convergence = the grandparent-sum invariant: f(x) <= x holds
    # throughout, so no grandparent label ever increases, and an
    # UNCHANGED sum proves an unchanged grandparent vector — at which
    # point every node's parent is its component's min id. The sum is
    # observed on the round's own checkpoint (no extra job); the first
    # round compares against the initial grandparents, the ids. Exact
    # decimal sum: no overflow, no float reassociation. An empty edge
    # set sums to None on both sides and converges on round 1.
    state, prev_sum = None, None
    for _ in range(max_iter):
        sums = Observation()
        state = (
            _fastsv_round(e, state)
            .observe(
                sums,
                F.sum(F.col("id").cast("decimal(38,0)")).alias("ids"),
                F.sum(F.col("gf").cast("decimal(38,0)")).alias("gf"),
            )
            .localCheckpoint()
        )
        got = sums.get
        if got["gf"] == (got["ids"] if prev_sum is None else prev_sum):
            break
        prev_sum = got["gf"]
    else:
        # exhausting the round budget without convergence means some
        # component carries MULTIPLE labels — silently returning would
        # hand the dedup pipeline several "canonical" representatives
        # of one duplicate cluster
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds "
            "(the grandparent-label sum was still decreasing); raise "
            "max_iter — FastSV needs O(log n) rounds in practice"
        )
    return state.select("id", F.col("f").alias("component"))


def pagerank_fixed_point(
    edges: DataFrame,
    iterations: int = 3,
    scale: int = 10**12,
    damping_pct: int = 85,
) -> DataFrame:
    """PageRank with INTEGER fixed-point arithmetic ([EXT] — the
    iterative-algorithm surface beyond connected_components): ranks
    are bigints scaled by `scale`, per-edge flow is floor(rank/deg),
    and each update is floor-division arithmetic only — so the result
    is bit-identical in any engine at any parallelism (float PageRank
    sums are partition-order dependent; integer sums are not), and a
    SQL oracle can replay every iteration exactly.

    ``edges`` is DIRECTED (src, dst); every node must appear as a src
    (undirected graphs: pass both directions). Per iteration: one
    shuffle join of ranks onto edges by src + one groupBy dst — at
    scale, pre-partition edges by src once so every iteration reuses
    the exchange. Iterations are unrolled into a single lazy plan (no
    driver-side data, no actions).

    rank_v := (15 * (scale div N)) div 100
              + (damping * sum_{u->v} (rank_u div deg_u)) div 100
    """
    # the edge list and degree table are loop INVARIANTS referenced by
    # every unrolled iteration — persist() materializes each once
    # instead of recomputing the upstream (often a distinct over a
    # fact-table projection) per iteration; plan-keyed caching means
    # repeated builds share the entries
    e = edges.select(F.col("src").cast("bigint").alias("src"),
                     F.col("dst").cast("bigint").alias("dst")).transform(tracked_persist)
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg")).transform(tracked_persist)
    # node count folded in as a broadcast 1-row aggregate — the whole
    # computation stays one lazy plan, no driver-side count()
    ncount = deg.agg(F.count(F.lit(1)).alias("__n"))
    ranks = (
        deg.select(F.col("src").alias("node"))
        .crossJoin(F.broadcast(ncount))
        .select(
            "node",
            F.expr(f"CAST({scale} div __n AS BIGINT)").alias("rank"),
            "__n",
        )
    )
    teleport = F.expr(f"CAST((15 * ({scale} div __n)) div 100 AS BIGINT)")
    # the full node universe (every src), re-anchored each iteration:
    # a node with NO incoming edges vanishes from the groupBy(dst)
    # output, but it must still hold teleport rank and keep pushing
    # outflow — left-join the aggregated inflow back onto this frame
    # with coalesce(.., 0) instead of keeping only groupBy survivors
    nodes = ranks.select("node", "__n")
    for _ in range(iterations):
        flows = (
            ranks.join(deg, ranks["node"] == deg["src"])
            .join(e, "src")
            .select(
                F.col("dst").alias("node"),
                F.expr("CAST(rank div deg AS BIGINT)").alias("flow"),
            )
        )
        inflow = flows.groupBy("node").agg(F.sum("flow").alias("__in"))
        ranks = nodes.join(inflow, "node", "left").select(
            "node",
            (
                teleport
                + F.expr(
                    f"CAST(({damping_pct} * coalesce(__in, 0L)) div 100 AS BIGINT)"
                )
            ).alias("rank"),
            "__n",
        )
    return ranks.select("node", "rank")
