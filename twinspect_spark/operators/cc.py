"""Distributed connected components over DataFrame joins (SURVEY.md G1).

The reference clusters with an in-memory adjacency dict + recursive DFS
(twinspect/datasets/ultils.py:60-91) — impossible at 10^12 edges. The
Spark-native replacement is hash-min label propagation:

  label(v) ← min(label(v), min over neighbors u of label(u))

iterated to fixpoint. Near-dup clusters have tiny diameters (a cluster is
a handful of edit-variants of one original), so convergence is typically
2-4 rounds; each round is one shuffle join + one aggregation.
``localCheckpoint()`` truncates lineage every round (Catalyst cannot
optimize across iterations and unchecked lineage grows exponentially —
SURVEY.md §4 item 2).

Cluster ids are ``min(file_id)`` of the component — stable under any
partitioning / edge order (determinism tests rely on this).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


DRIVER_CC_MAX_EDGES = 2_000_000  # ~32 MB of pairs — trivially driver-sized


def _numpy_cc(src, dst):
    """Vectorized min-label propagation with pointer jumping (numpy):
    each round pushes the component-min across every edge and halves
    label-chain depth, so convergence is O(log diameter) rounds of O(E)
    vectorized work — the scalar union-find loop costs ~5s/M edges in
    Python; this is ~50ms/M. ``src``/``dst`` are int64 numpy arrays (one
    direction per edge). Returns (sorted unique node ids, component-min
    label per id)."""
    import numpy as np

    ids, idx = np.unique(np.concatenate([src, dst]), return_inverse=True)
    ia, ib = idx[: len(src)], idx[len(src):]
    lab = np.arange(len(ids), dtype=np.int64)
    while True:
        prev = lab.copy()
        # offer min labels across both edge directions, then pointer-jump
        np.minimum.at(lab, ia, lab[ib])
        np.minimum.at(lab, ib, lab[ia])
        lab = lab[lab]
        if np.array_equal(lab, prev):
            break
    # np.unique sorts ids, so index order == id order and the min label
    # index IS the min file_id of the component — same invariant as the
    # hash-min loop below
    return ids, ids[lab]


def _with_singletons(
    clusters: DataFrame, vertices: DataFrame | None
) -> DataFrame:
    """Vertices no edge touched become their own singleton cluster."""
    if vertices is None:
        return clusters
    singletons = (
        vertices.select("file_id")
        .join(clusters, "file_id", "left_anti")
        .withColumn("cluster_id", F.col("file_id"))
    )
    return clusters.unionByName(singletons)


def _driver_cc(edges: DataFrame, vertices: DataFrame | None) -> DataFrame:
    """Exact same output contract as the distributed loop, for edge sets
    that fit the driver (see ``_numpy_cc``). Arrow toPandas, not
    collect(): per-Row materialization costs ~30s/M rows; the Arrow path
    moves the same edges in ~1s. Union-find symmetrizes internally, so
    the directed list is all it needs."""
    import pandas as pd

    epdf = edges.select("a", "b").toPandas()
    ids, labels = _numpy_cc(epdf["a"].to_numpy(), epdf["b"].to_numpy())
    pdf = pd.DataFrame({"file_id": ids, "cluster_id": labels})
    # explicit schema: empty edge sets yield an empty frame Spark cannot
    # infer from, and pandas would type empty columns as float64
    clusters = edges.sparkSession.createDataFrame(
        pdf, "file_id long, cluster_id long"
    )
    return _with_singletons(clusters, vertices)


def connected_components(
    edges: DataFrame,
    vertices: DataFrame | None = None,
    max_iter: int = 30,
    max_driver_edges: int | None = None,
    on_round=None,
) -> DataFrame:
    """edges(a, b) [+ vertices(file_id)] → clusters(file_id, cluster_id).

    Vertices not touched by any edge become singleton clusters
    (cluster_id = own file_id) when a vertex frame is supplied.

    Size-aware strategy: the verified-pair graph is usually a sliver of
    the corpus (dup pairs only), so when the edge list fits the driver
    (< DRIVER_CC_MAX_EDGES) it is collected and solved with union-find
    immediately — the iterative loop costs ~8 driver-blocking jobs that
    dominate wall time on small graphs. Above the threshold, hash-min
    label propagation over DataFrame joins (unbounded scale, lineage cut
    per round). ``max_driver_edges`` overrides the threshold (0 forces
    the distributed loop — used by the oracle gate to exercise it).
    ``on_round(it)`` is invoked after each distributed hash-min round
    materializes — the rounds-to-convergence instrumentation for the
    scale-evidence bench (bench.py --ccbench).
    """
    threshold = (
        DRIVER_CC_MAX_EDGES if max_driver_edges is None else max_driver_edges
    )
    # size probe on the DIRECTED edge list (callers pass the verified
    # pairs cut, a checkpoint-backed scan): one cheap job, and the
    # driver path then needs exactly ONE more (Arrow toPandas) — the
    # symmetrized union + its localCheckpoint + recount used to cost
    # three small driver-blocking jobs over 2× the rows, a fixed tax
    # the scaling composite's near-flat cluster stage paid at every
    # level (round-4 floors)
    if edges.count() <= threshold:
        return _driver_cc(edges, vertices)
    return _hash_min_cc(edges, vertices, max_iter, on_round)


def _hash_min_cc(
    edges: DataFrame,
    vertices: DataFrame | None,
    max_iter: int = 30,
    on_round=None,
) -> DataFrame:
    """The distributed hash-min label propagation loop of
    ``connected_components``, for edge sets the caller has already sized
    above the driver threshold."""
    from pyspark import StorageLevel

    spark = edges.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "64"))
    sym = edges.select(F.col("a").alias("src"), F.col("b").alias("dst")).unionByName(
        edges.select(F.col("b").alias("src"), F.col("a").alias("dst"))
    )
    # materialize the edge set ONCE, hash-partitioned on the join key,
    # as a CACHE (persist), not a checkpoint: an InMemoryRelation is a
    # plan leaf that PRESERVES outputPartitioning, so every round's
    # offers join co-partitions against it with zero edge-side exchange
    # — measured on this Spark build, a checkpointed RDD scan reports
    # unknown partitioning and the round-4 loop re-shuffled the full
    # edge list (the largest relation here) every round, the dominant
    # byte-bound term under the host DRAM ceiling (ccbench r4
    # efficiency 0.687). sym's own logical plan is built once from
    # `edges`, so the cache-lookup cost stays constant across rounds.
    # Caching also keeps the upstream pipeline (signatures, candidate
    # joins, verify UDFs) from re-executing per iteration.
    sym = sym.repartition(n_part, "src").persist(
        StorageLevel.MEMORY_AND_DISK
    )
    sym.count()
    nodes = sym.select(F.col("src").alias("file_id")).distinct()
    # labels MUST roll forward through localCheckpoint, not persist: the
    # round recurrence references the previous labels twice (offers
    # probe + merge join), so without logical-plan truncation the plan
    # tree doubles per round — measured as driver planning time growing
    # 3.1 → 64.3 s/round by round 8 on the 6.1M-edge ccbench graph when
    # this loop briefly cached labels instead. The checkpoint costs the
    # label-side re-shuffle per round (the smaller relation), which the
    # cached sym makes the only large exchange besides the offer agg.
    labels = nodes.withColumn("label", F.col("file_id")).localCheckpoint()

    try:
        for it in range(max_iter):
            # every node offers its label to each neighbor; keep the min
            # of (own label, best neighbor offer). Merging via a left
            # join (instead of union+groupBy over labels ∪ offers) keeps
            # the aggregation to the offer rows alone.
            offers = (
                sym.join(labels, sym.src == labels.file_id)
                .select(F.col("dst").alias("file_id"), "label")
            )
            offer_min = offers.groupBy("file_id").agg(
                F.min("label").alias("offer")
            )
            new_labels = (
                labels.join(offer_min, "file_id", "left")
                .select(
                    "file_id",
                    F.least(
                        F.col("label"), F.coalesce("offer", F.col("label"))
                    ).alias("label"),
                )
                .localCheckpoint()
            )
            if on_round is not None:
                on_round(it)
            # convergence check costs a driver-blocking job; dup graphs
            # have tiny diameters, so checking every 2nd round halves
            # the serial job count for (at worst) one extra cheap
            # iteration
            if it % 2 == 1 or it == max_iter - 1:
                changed = (
                    new_labels.alias("n")
                    .join(labels.alias("o"), "file_id")
                    .where(F.col("n.label") != F.col("o.label"))
                    .limit(1)
                    .count()
                )
                if changed == 0:
                    labels = new_labels
                    break
            labels = new_labels
    finally:
        # labels live in checkpoint blocks (GC-cleaned); the sym cache
        # entry would outlive this call otherwise (CacheManager holds
        # it), accumulating across streaming batches
        sym.unpersist()

    clusters = labels.select("file_id", F.col("label").alias("cluster_id"))
    return _with_singletons(clusters, vertices)


def cluster_with_members(
    pair_edges: DataFrame,
    vertices: DataFrame,
    exact_edges: DataFrame,
    max_driver_edges: int | None = None,
) -> tuple[DataFrame, bool]:
    """The pipeline's whole cluster stage: CC over the representative
    pair graph + singleton fill from ``vertices(file_id)`` + exact-dup
    member inheritance through ``exact_edges(a=rep, b=member)``.

    Returns ``(clusters, driver_built)``. When BOTH edge lists fit the
    driver, the entire assembly happens in numpy and the result is one
    ``createDataFrame`` with NO upstream lineage — so the caller must
    NOT localCheckpoint it (there is nothing to truncate; the checkpoint
    of a driver-parallelized 260k-row frame measured ~1.4-3.0 s of pure
    overhead in the round-5 fixed-latency profile, the single largest
    level-independent term in the scaling composite). Above the
    threshold the distributed loop + joins run exactly as before and
    ``driver_built=False`` tells the caller to checkpoint as usual."""
    import numpy as np
    import pandas as pd

    threshold = (
        DRIVER_CC_MAX_EDGES if max_driver_edges is None else max_driver_edges
    )
    n_pairs = pair_edges.count()
    if n_pairs <= threshold and exact_edges.count() <= threshold:
        epdf = pair_edges.select("a", "b").toPandas()
        ids, labels = _numpy_cc(epdf["a"].to_numpy(), epdf["b"].to_numpy())
        vids = vertices.select("file_id").toPandas()["file_id"].to_numpy()
        singles = vids[~np.isin(vids, ids)]
        xpdf = exact_edges.select("a", "b").toPandas()
        ea, eb = xpdf["a"].to_numpy(), xpdf["b"].to_numpy()
        # member's cluster = its rep's label; a rep untouched by any
        # pair edge is its own component min
        pos = np.searchsorted(ids, ea)
        pos_c = np.clip(pos, 0, max(len(ids) - 1, 0))
        found = (
            (pos < len(ids)) & (ids[pos_c] == ea)
            if len(ids)
            else np.zeros(len(ea), dtype=bool)
        )
        # gather labels only where found: with no pair edges, labels is
        # empty and any index into it raises
        mlab = ea.copy()
        mlab[found] = labels[pos_c[found]]
        pdf = pd.DataFrame(
            {
                "file_id": np.concatenate([ids, singles, eb]),
                "cluster_id": np.concatenate([labels, singles, mlab]),
            }
        )
        spark = pair_edges.sparkSession
        return spark.createDataFrame(pdf, "file_id long, cluster_id long"), True
    # the size probe above already placed the pair graph: no recount
    rep_clusters = (
        _driver_cc(pair_edges, vertices)
        if n_pairs <= threshold
        else _hash_min_cc(pair_edges, vertices)
    )
    members = exact_edges.alias("e").join(
        rep_clusters.alias("r"), F.col("e.a") == F.col("r.file_id")
    ).select(F.col("e.b").alias("file_id"), "cluster_id")
    return rep_clusters.unionByName(members), False


def merge_components(
    clusters: DataFrame,
    new_edges: DataFrame,
    new_vertices: DataFrame | None = None,
) -> DataFrame:
    """Incremental CC (the streaming path): fold ``new_edges(a, b)`` into
    an existing ``clusters(file_id, cluster_id)`` assignment without
    re-clustering the world.

    Contraction trick: map each new-edge endpoint through the existing
    assignment (unknown endpoints map to themselves), which contracts
    every existing component to its single representative id; run CC on
    that contracted graph — its size is O(new edges), independent of the
    accumulated corpus — then remap. ``cluster_id = min(file_id)`` of the
    merged component is preserved because contracted node ids ARE the
    component minima, so the contracted CC's min is the global min.
    """
    ca = clusters.select(F.col("file_id").alias("a"), F.col("cluster_id").alias("la"))
    cb = clusters.select(F.col("file_id").alias("b"), F.col("cluster_id").alias("lb"))
    contracted_edges = (
        new_edges.join(ca, "a", "left")
        .join(cb, "b", "left")
        .select(
            F.coalesce("la", F.col("a")).alias("a"),
            F.coalesce("lb", F.col("b")).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
    )
    # connected_components runs a count probe AND (driver path) a
    # toPandas over its input — checkpoint the contraction join here so
    # those two jobs don't each re-execute it, while the batch-pipeline
    # caller (already checkpoint-backed) keeps its single-probe fast path
    contracted_edges = contracted_edges.localCheckpoint()
    remap = connected_components(contracted_edges).select(
        F.col("file_id").alias("old_label"), F.col("cluster_id").alias("new_label")
    )
    updated_old = (
        clusters.join(remap, clusters.cluster_id == remap.old_label, "left")
        .select(
            "file_id",
            F.coalesce("new_label", F.col("cluster_id")).alias("cluster_id"),
        )
    )
    if new_vertices is None:
        return updated_old
    new_nodes = new_vertices.select("file_id").join(
        clusters, "file_id", "left_anti"
    )
    assigned = (
        new_nodes.join(remap, new_nodes.file_id == remap.old_label, "left")
        .select(
            "file_id",
            F.coalesce("new_label", F.col("file_id")).alias("cluster_id"),
        )
    )
    return updated_old.unionByName(assigned)
