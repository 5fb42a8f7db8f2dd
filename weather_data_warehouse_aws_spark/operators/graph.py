"""Connected components over a pair/edge relation (dedup clustering).

Near-dup detection (operators/dedup.py) emits PAIRS; an LLM-data pipeline
needs CLUSTERS — "these 7 documents are all the same article; keep one".
Pairs → clusters is connected components on the pair graph, and the member
with the smallest id becomes the cluster's canonical survivor.

Algorithm: iterative min-label propagation. Every vertex starts labeled
with its own id; each round every vertex takes the minimum label among
itself and its neighbors; at the fixpoint every vertex carries the minimum
vertex id reachable from it — exactly the component id. Each round is one
hash equi-join (labels ⋈ edges on the vertex) plus one groupBy-min, both
shuffle-partitioned on the vertex id, so a round costs O(|E|) shuffle and
the loop runs `diameter` rounds. Dedup graphs are near-cliques of
near-identical documents (tiny diameter), so 2-4 rounds is typical; the
O(log n)-round star-contraction variants (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC 2014) only pay off on
long-path graphs, which dedup output is not.

Driver-side per round: one scalar aggregate (the label-sum convergence
check). Min-propagation only ever DECREASES labels, so the total label sum
is strictly decreasing until the fixpoint — comparing two driver-side
scalars detects convergence without a change-count join.

Lineage: each round's labels are localCheckpoint()ed — without truncation
the plan doubles per iteration and the driver, not the data, becomes the
bottleneck. On a real cluster with an unreliable-executor concern, swap
for `checkpoint()` against a durable checkpoint dir; the call site is the
single `_truncate` hop below.

Reference parity: the reference engine has no graph operator at all —
its dedup story stops at `dropDuplicates` (bronze_to_silver.py:87). This
closes the pairs→clusters gap a training-data user hits immediately.
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import LongType, StructField, StructType


def _truncate(df: DataFrame, *, eager: bool = True) -> DataFrame:
    """Cut lineage between iterations (see module docstring). `eager=False`
    defers materialization to the NEXT action over the frame (the
    convergence signature, a count, or the caller's own action), so an
    iteration pays ONE job instead of checkpoint-job + action-job — the
    round-cadence cost at any cluster size is job count, not data. The
    logical plan is truncated either way (LogicalRDD)."""
    return df.localCheckpoint(eager=eager)


#: iteration-shuffle sizing: rows per task for the per-round exchanges.
#: Edge/label rows are a few dozen bytes, so 2M rows ≈ 50-100 MB per task
#: (guide §2.2's 100 MB-1 GB window). Partition counts DERIVE from the
#: measured relation size instead of inheriting spark.sql.shuffle
#: .partitions: a 1.4k-edge dedup graph iterates in 1-task stages while a
#: 10^10-edge graph gets thousands — the same code, no local-core tuning.
_PART_ROWS = 2_000_000

#: measured-size broadcast ceiling for the per-round label/rank join
#: (guide §3.1: decide the strategy deliberately). 1M labels ≈ 20-40 MB
#: built — well inside executor memory even with several rounds' stale
#: broadcast blocks awaiting driver GC (explicit F.broadcast bypasses
#: autoBroadcastJoinThreshold, and an iterative loop re-broadcasts every
#: round, so the ceiling is deliberately far below the one-shot comfort
#: zone); above it the round falls back to the shuffle join.
#: localCheckpoint'd frames are LogicalRDDs with UNKNOWN size stats, so
#: Spark's own auto-broadcast can never fire here — without this explicit
#: decision every round of every iteration pays two full shuffles even on
#: a 1k-node graph.
_BROADCAST_MAX_NODES = 1_000_000


#: measured-size DRIVER ceiling: below this many (symmetrized, distinct)
#: edge rows the whole iteration runs as a driver-side loop over collected
#: edges — the same "loop on the driver over small state" shape as Lloyd
#: centroid refinement (operators/similarity.py), applied to the graph
#: itself when the graph IS small state. 200k edge rows ≈ a few MB
#: collected, far under driver memory; a dedup pair graph at corpus scale
#: that exceeds it falls through to the distributed rounds unchanged.
#: Rationale (guide §1.2/§5): each distributed round costs jobs, not data,
#: at this size — the fixpoint loop over a 1k-edge graph paid ~10 tiny
#: jobs for work a union-find does in microseconds. The driver result
#: goes back as an Arrow-built local relation (`_local_frame`) of at most
#: one row per vertex (≤ 200k): ≈3 MB for integer ids, under Spark's 48 MB
#: `spark.sql.execution.arrow.localRelationThreshold`, so it plans as a
#: sized LocalTableScan (past that threshold — only with very long string
#: ids — Spark ships the Arrow batches as a JVM RDD of unknown size).
_DRIVER_MAX_EDGES = 200_000


def _parts(n_rows: int) -> int:
    return max(1, -(-n_rows // _PART_ROWS))


def _local_frame(spark, schema: StructType, *columns: list) -> DataFrame:
    """A driver-side result as a JVM local relation, built from a pyarrow
    table. `createDataFrame(list_of_tuples)` would instead parallelize a
    Python RDD: a LogicalRDD of unknown size (Long.MaxValue), so the
    planner never broadcasts it, and every scan of it starts Python
    workers — downstream joins rescan it once per consumer. The Arrow
    path plans as LocalTableScan with exact size statistics."""
    arrow_schema = to_arrow_schema(schema)
    table = pa.Table.from_arrays(
        [pa.array(col, type=f.type) for col, f in zip(columns, arrow_schema)],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, schema)


def _driver_components(spark, sym_rows, node_type) -> DataFrame:
    """Union-find over collected (node, nbr) rows; returns the same
    (node, component=min reachable id) relation the distributed fixpoint
    produces — min-label propagation and union-find compute the identical
    labeling, so the result is path-independent. The result is a sized
    local relation (`_local_frame`): callers join it several times (cluster
    sizes, survivor anti-join, split keying), and each join may broadcast
    it."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] is not root:
            root = parent[root]
        while parent[x] is not root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for row in sym_rows:
        a, b = row[0], row[1]
        if a not in parent:
            parent[a] = a
        if b is None:  # a null neighbour connects nothing (see caller)
            continue
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra is not rb:
            parent[rb] = ra
    comp_min: dict = {}
    for n in parent:
        r = find(n)
        m = comp_min.get(r)
        if m is None or n < m:
            comp_min[r] = n
    schema = StructType([
        StructField("node", node_type, False),
        StructField("component", node_type, False),
    ])
    nodes = list(parent)
    return _local_frame(spark, schema, nodes, [comp_min[find(n)] for n in nodes])


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    *,
    max_iter: int = 25,
) -> DataFrame:
    """(node, component) for every vertex of `edges`; component = min
    reachable vertex id. Vertices are integral/comparable ids; a null id
    is dropped (its edges connect nothing), on both execution paths.

    Raises RuntimeError if the fixpoint is not reached in `max_iter`
    rounds (rounds needed = graph diameter; 25 covers any plausible dedup
    graph — a path that long means the similarity threshold is broken).
    """
    sym = (
        edges.select(F.col(src).alias("node"), F.col(dst).alias("nbr"))
        .unionByName(edges.select(F.col(dst).alias("node"), F.col(src).alias("nbr")))
        # a null id is no vertex: an edge to it connects nothing, and its
        # non-null endpoint stays a vertex (the rounds' join never matches
        # a null nbr; the driver's union-find skips it)
        .filter(F.col("node").isNotNull())
        .distinct()
    )
    # lazy truncate: the sizing count right below is the materializing
    # action, so setup costs one job here, not two
    sym = _truncate(sym, eager=False)
    # one count sizes every round: iteration exchanges are partitioned by
    # MEASURED edge count, and labels (≤ |sym| rows, exactly n_nodes) ride
    # the broadcast path when they provably fit
    n_edges = sym.count()
    if n_edges <= _DRIVER_MAX_EDGES:
        # measured-small graph: one collect + one Arrow-built local
        # relation replace the whole per-round job cadence (see
        # _DRIVER_MAX_EDGES). The collect reads the partitions the count
        # just materialized.
        return _driver_components(
            edges.sparkSession, sym.collect(), sym.schema["node"].dataType
        )
    p = _parts(n_edges)
    if sym.rdd.getNumPartitions() > p:
        # checkpointed at the upstream partitioning (often the session's
        # shuffle width); fold small graphs down so every round's map
        # side is p right-sized tasks, not 32 near-empty ones (narrow
        # coalesce over the checkpointed partitions — no shuffle)
        sym = sym.coalesce(p)
    bcast = 2 * n_edges <= _BROADCAST_MAX_NODES  # n_nodes ≤ 2·n_edges

    labels = (
        sym.select("node")
        .repartition(p, "node")  # size the distinct's exchange too
        .distinct()
        .withColumn("component", F.col("node"))
    )
    # lazy: the first _sig below materializes it (one job, not two)
    labels = _truncate(labels, eager=False)

    # convergence scalar: sum of label HASHES, not label values — summing a
    # string component column would cast to double, yield all-NULL, and be
    # mistaken for "already converged" (silently returning the identity
    # labeling for string ids). xxhash64 works for any id type; the sum
    # changes whenever any label changes and is stable when none do (min-
    # label propagation is monotone, so no two distinct labelings repeat).
    def _sig(lbls: DataFrame):
        # decimal(38,0) sum: long hashes span ±2^63, so a plain long sum
        # overflows (ANSI mode raises); decimal38 holds ~1e38 ≫ n·2^63.
        # The row count rides the same one-row aggregate (no extra job):
        # it sizes the next round's label exchange.
        row = lbls.agg(
            F.sum(F.xxhash64("component").cast("decimal(38,0)")),
            F.count(F.lit(1)),
        ).collect()[0]
        return row[0], row[1]

    prev_sig, n_nodes = _sig(labels)
    if prev_sig is None:  # empty edge set
        return labels

    for _ in range(max_iter):
        # neighbor labels flow along edges; keep own label via the union.
        # Labels of a measured-small graph broadcast (checkpointed frames
        # carry no size stats, so auto-broadcast can never fire here);
        # the groupBy exchange is sized from the measured node count.
        lbl_side = labels.withColumnRenamed("node", "nbr")
        msgs = sym.join(
            F.broadcast(lbl_side) if bcast else lbl_side, "nbr"
        ).select("node", "component")
        new_labels = (
            labels.unionByName(msgs)
            .repartition(_parts(n_nodes), "node")
            .groupBy("node")
            .agg(F.min("component").alias("component"))
        )
        # lazy truncate + signature in ONE action: the convergence
        # aggregate is the job that materializes (and persists) this
        # round's labels — previously every round paid an eager
        # checkpoint job AND the signature collect (measured: 2 jobs →
        # 1 job per round; same labels, same fixpoint)
        new_labels = _truncate(new_labels, eager=False)
        new_sig, n_nodes = _sig(new_labels)
        labels = new_labels
        if new_sig == prev_sig:
            return labels
        prev_sig = new_sig
    raise RuntimeError(f"connected_components did not converge in {max_iter} rounds")


def dedup_clusters(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    *,
    max_iter: int = 25,
) -> DataFrame:
    """Cluster view of a near-dup pair relation:
    (doc_id, cluster_id, cluster_size, is_canonical), one row per clustered
    document. `cluster_id` = min doc_id of the cluster; `is_canonical`
    marks the survivor a keep-one-per-cluster filter would retain.
    Singleton documents (no pair) are by construction absent — at 100 TB
    the clustered set is orders of magnitude smaller than the corpus, so
    the survivor filter is an anti-join of corpus against the non-canonical
    rows of this (small) relation.
    """
    comp = connected_components(edges, src, dst, max_iter=max_iter)
    sizes = comp.groupBy("component").agg(F.count("*").alias("cluster_size"))
    return (
        comp.join(sizes, "component")
        .select(
            F.col("node").alias("doc_id"),
            F.col("component").alias("cluster_id"),
            "cluster_size",
            (F.col("node") == F.col("component")).alias("is_canonical"),
        )
    )


def pagerank(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    *,
    iters: int = 4,
    damping_pct: int = 85,
    scale: int = 10**12,
    symmetric: bool = True,
) -> DataFrame:
    """Fixed-point-integer PageRank: (node, rank_scaled) after `iters`
    synchronous power iterations, rank_scaled ≈ rank × `scale` × n.

    Centrality ranks the members of a near-dup cluster (which copy is the
    hub the others orbit?) and, on citation/link graphs, feeds quality
    signals for corpus curation (page authority as a training-data weight
    — the classic Brin & Page 1998 formulation).

    ALL arithmetic is 64-bit integer — ranks are scaled longs, the damping
    factor is a percentage, and per-edge shares use integer division — so
    every engine computes bit-identical ranks regardless of aggregation
    order (float PageRank sums contributions in shuffle order and drifts
    in the last bits; integer sums are associative-exact). This is the
    same exact-integer discipline as the hashed-feature classifier
    (operators/relevance.py) and q8 ANN rescoring.

    Per iteration: one equi-join of ranks onto edges (shuffle keyed on the
    edge source) + one groupBy-sum on the destination — O(|E|) shuffle per
    round, lineage-truncated between rounds. `symmetric=True` mirrors the
    edge set first (pair relations are undirected), which also removes
    dangling-node mass loss; with directed input, dangling mass simply
    decays (acceptable for ranking, documented deviation from the
    stochastic-matrix formulation).

    Overflow headroom: total mass ≈ n·scale must stay ≪ 2^63/damping_pct;
    the default scale=1e12 is safe to ~n=10^5 nodes — pass scale=10**6 for
    web-scale graphs (precision trades against headroom explicitly).
    """
    e = edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
    if symmetric:
        e = e.unionByName(e.select(F.col("d").alias("s"), F.col("s").alias("d")))
    # lazy truncate: the sizing count is the materializing action
    e = _truncate(e.distinct(), eager=False)
    # measured-size decisions, same rationale as connected_components:
    # checkpointed frames have no size stats, so the per-round join
    # strategy and exchange widths must be chosen HERE, deliberately
    n_edges = e.count()
    if n_edges <= _DRIVER_MAX_EDGES:
        # measured-small graph: the power iteration is a driver loop over
        # collected edges (see _DRIVER_MAX_EDGES). All arithmetic below is
        # the same 64-bit-exact integer algebra as the distributed rounds
        # — Python ints on positive operands reproduce BIGINT `div` and
        # `sum` bit-for-bit — so ranks are identical either way.
        rows = e.collect()
        base = (scale * (100 - damping_pct)) // 100
        outdeg: dict = {}
        node_set = set()
        for r in rows:
            outdeg[r[0]] = outdeg.get(r[0], 0) + 1
            node_set.add(r[0])
            node_set.add(r[1])
        ranks_d = {n: scale for n in node_set}
        for _ in range(iters):
            inflow: dict = {}
            for r in rows:
                s, d = r[0], r[1]
                c = (ranks_d[s] * damping_pct) // (100 * outdeg[s])
                inflow[d] = inflow.get(d, 0) + c
            ranks_d = {n: base + inflow.get(n, 0) for n in node_set}
        schema = StructType([
            StructField("node", e.schema["s"].dataType, False),
            StructField("rank_scaled", LongType(), False),
        ])
        ranked = sorted(ranks_d.items())
        return _local_frame(
            edges.sparkSession, schema,
            [n for n, _ in ranked], [r for _, r in ranked],
        )
    p = _parts(n_edges)
    if e.rdd.getNumPartitions() > p:
        e = e.coalesce(p)  # narrow fold of near-empty checkpoint splits
    bcast = 2 * n_edges <= _BROADCAST_MAX_NODES  # n_nodes ≤ 2·n_edges
    deg = e.groupBy("s").agg(F.count(F.lit(1)).alias("outdeg"))
    # lazy: round 1's join materializes (and persists) it
    ed = _truncate(e.join(F.broadcast(deg) if bcast else deg, "s"),
                   eager=False)
    if ed.rdd.getNumPartitions() > p:
        ed = ed.coalesce(p)  # (s, d, outdeg), reused every round

    # vertex set = BOTH endpoints: with directed input a pure sink (most-
    # cited node — exactly what this ranks) appears only as a destination
    # and would otherwise get no rank row at all
    nodes = (
        e.select(F.col("s").alias("node"))
        .unionByName(e.select(F.col("d").alias("node")))
        .repartition(p, "node")
        .distinct()
    )
    ranks = _truncate(nodes.withColumn("r", F.lit(scale).cast("long")),
                      eager=False)
    if ranks.rdd.getNumPartitions() > p:
        ranks = ranks.coalesce(p)
    nodes = ranks.select("node")  # reuse the checkpointed vertex set
    base = (scale * (100 - damping_pct)) // 100

    share = F.expr(f"(r * {damping_pct}) div (100 * outdeg)")
    for _ in range(iters):
        rank_side = ranks.withColumnRenamed("node", "s")
        incoming = (
            ed.join(F.broadcast(rank_side) if bcast else rank_side, "s")
            .select(F.col("d").alias("node"), share.alias("c"))
            .repartition(p, "node")
            .groupBy("node")
            .agg(F.sum("c").alias("inflow"))
        )
        inc_side = incoming
        # lazy: no per-round action at all — the caller's action (or the
        # next round's broadcast build) materializes each round's ranks;
        # lineage is still cut every round (LogicalRDD), so plan size
        # stays constant across iterations
        ranks = _truncate(
            nodes.join(
                F.broadcast(inc_side) if bcast else inc_side, "node", "left"
            ).select(
                "node",
                (F.lit(base) + F.coalesce(F.col("inflow"), F.lit(0))).alias("r"),
            ),
            eager=False,
        )
        if ranks.rdd.getNumPartitions() > p:
            ranks = ranks.coalesce(p)
    return ranks.select("node", F.col("r").alias("rank_scaled"))
