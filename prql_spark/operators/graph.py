"""Distributed graph operators: connected components over dup-pair
edge lists.

The dedup family (minhash / simhash / ngram-jaccard / embedding)
emits near-duplicate PAIRS; a real pipeline must then pick ONE
survivor per duplicate *cluster* — the transitive closure of the
pair relation — or pairwise keep-min silently keeps one doc per
chain-link instead of one per group. ``connected_components`` turns
the pair list into (node, component) labels with component = the
smallest node id in the component, so "keep doc_id == component"
is the canonical keep-first policy at cluster granularity.

Scale design (100 TB posture):
- min-label propagation: each iteration is ONE join (labels ⋈ edges,
  both hash-partitioned on the node key) + ONE groupBy(min). The edge
  list is materialized once (``plans.physical.materialize``) and
  reused every iteration; lineage is truncated per iteration so the
  plan never grows with the iteration count.
- convergence is detected with a single scalar aggregate: labels only
  ever DECREASE (monotone min-lattice), so sum(component) strictly
  decreases until the fixpoint — no per-iteration label self-join.
- iteration count is O(graph diameter). Near-dup graphs are
  short-diameter by construction here: the upstream emitters star-cap
  mega-buckets (every member links to the bucket min — a hub), so the
  adversarial long-chain topology cannot arise from a single bucket.
  ``max_iter`` bounds the worst case (default 25 ≈ diameter of any
  realistic dup graph; raise for pathological chain graphs).

Reference parity: prql/prql has no graph operator (the reference is a
SQL compiler — see prql-compiler/src/semantic/transforms.prql:1-12);
this belongs to the LLM-training-data-pipeline surface of the brief.
The algorithm is the standard "hash-to-min" style propagation
(Rastogi et al. 2013, "Finding Connected Components in Map-Reduce in
Logarithmic Rounds" describes the family; plain min-propagation
converges in diameter rounds, which star-capped dup graphs keep
small).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from prql_spark.plans.physical import materialize


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    stats: dict | None = None,
    local_threshold: int = 1_000_000,
) -> DataFrame:
    """Label each node of the undirected pair graph with the smallest
    node id reachable from it.

    Returns (node, component) for every node that appears in at least
    one edge. Isolated nodes (docs with no dup pair) are not emitted —
    callers keep them unconditionally (left_anti join on node).

    ``stats``: optional dict that receives ``{"rounds": k}`` on
    convergence — the measured evidence for the O(log D) pointer-
    jumping claim (the scale experiment reports it).

    ``local_threshold``: edge lists at or under this size (known
    exactly from the one count that materializes the edge
    checkpoint) are solved with a driver-side union-find instead of
    iterative propagation — the same result (min reachable id is
    algorithm-independent) for the cost of ONE job + one bounded
    collect, where each propagation round costs an edge join, a
    group-by, a self-join, a checkpoint and a convergence aggregate
    (measured ~2.5 s of fixed per-round cost at local[32] on a
    2.5k-edge graph — pure scheduling/codegen, no data). The default
    1M directed edges collects ≤ ~32 MB of slim NUMERIC pairs — the
    same bounded-driver posture as merge_snapshot's 2M-key broadcast
    gate — and a 100 TB dup graph above it takes the distributed
    path unchanged. String-keyed graphs (doc ids / URLs) are
    additionally gated on estimated driver BYTES (mean key width
    measured by the same materializing job, 64 MB cap) — 1M
    long-URL edges would otherwise materialize hundreds of MB of
    Python objects. ``0`` forces the distributed path (tests pin
    it).

    Raises ``RuntimeError`` if the labels have not converged after
    ``max_iter`` rounds (never observed on star-capped dup graphs;
    indicates a long-chain topology that needs a higher bound).
    """
    # Undirected: propagate along both directions of every edge.
    # materialize the (possibly expensive) upstream pair computation
    # ONCE — every iteration re-reads the stored blocks instead of
    # re-running minhash/LSH per round.
    # Both directions via ONE explode, not union-of-two-selects: a
    # union's branches each re-plan AND re-execute the upstream pair
    # computation (minhash UDF + bucket-combine ran TWICE into this
    # checkpoint, and the optimizer walked the duplicated subtree at
    # every build — measured ~4.7 s of driver-side planning per call
    # at sf0.1 on top of the doubled execution). The explode emits
    # (u, v) and (v, u) from a single pass over the pair stream.
    e = materialize(
        edges.select(
            F.explode(
                F.expr(
                    f"array(named_struct('u', {src}, 'v', {dst}), "
                    f"named_struct('u', {dst}, 'v', {src}))"
                )
            ).alias("__e")
        )
        .select(F.col("__e.u").alias("u"), F.col("__e.v").alias("v"))
        .distinct()
    )
    # Small-graph fast path: the count below is the action that
    # materializes the edge checkpoint (the distributed path pays an
    # equivalent first action anyway), and it tells us EXACTLY how
    # big the graph is — adapt the algorithm to the data the way AQE
    # adapts the plan. Under the threshold, a driver union-find
    # replaces rounds of join+agg+checkpoint+aggregate jobs.
    #
    # The gate is BYTES, not just edge count (round 12): 1M directed
    # edges of numeric ids is ~32 MB of slim pairs, but 1M edges of
    # STRING ids (doc ids / URLs — the normal dedup-pair input) can
    # materialize hundreds of MB of Python objects on the driver. For
    # string-keyed graphs the same materializing job also measures
    # the mean key width, and the fast path only applies while the
    # estimated driver footprint (per-edge key bytes + ~100 B of
    # Python object/tuple overhead per edge) stays under
    # ``local_threshold_bytes`` — above it, the distributed path runs
    # exactly as before.
    from pyspark.sql.types import NumericType

    numeric_ids = isinstance(e.schema["u"].dataType, NumericType)
    local_threshold_bytes = 64 << 20
    if numeric_ids:
        n_edges = e.count()
        take_local = n_edges <= local_threshold
    else:
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.avg(
                F.length(F.col("u").cast("string"))
                + F.length(F.col("v").cast("string"))
            ).alias("w"),
        ).first()
        n_edges = row["n"]
        est_bytes = n_edges * (2 * float(row["w"] or 0) + 100)
        take_local = (
            n_edges <= local_threshold
            and est_bytes <= local_threshold_bytes
        )
    if take_local:
        utype = e.schema["u"].dataType.simpleString()
        rows = e.toPandas()
        parent: dict = {}

        def find(x):
            parent.setdefault(x, x)
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:
                parent[x], x = root, parent[x]
            return root

        # .tolist(): plain Python scalars — numpy int64 neither
        # compares against strings nor round-trips into
        # createDataFrame reliably
        for u, v in zip(rows["u"].tolist(), rows["v"].tolist()):
            ru, rv = find(u), find(v)
            if ru != rv:
                parent[ru] = rv
        comp_min: dict = {}
        for node in list(parent):
            r = find(node)
            m = comp_min.get(r)
            comp_min[r] = node if m is None or node < m else m
        out = [(n, comp_min[find(n)]) for n in parent]
        if stats is not None:
            stats["rounds"] = 0
            stats["local"] = True
        # ship the labels back through ONE Arrow batch: a
        # list-of-tuples createDataFrame pickles and type-checks per
        # row over py4j (measured 0.31-0.34 s warm / 3.8 s first call
        # at 2k rows vs 0.12-0.14 s / 0.48 s for the pandas+Arrow
        # path — round 12); the explicit schema keeps the exact
        # node/component type the distributed path would return
        import pandas as pd

        pdf = pd.DataFrame(out, columns=["node", "component"])
        return edges.sparkSession.createDataFrame(
            pdf, schema=f"node {utype}, component {utype}"
        )

    # Fused first round: initial label = min(self, neighbors), which
    # IS round 1 of min-propagation from identity labels — computed
    # inside the same aggregation that enumerates the nodes. On the
    # short-diameter graphs star-capped emitters produce, this saves
    # one full round (edge join + checkpoint + convergence job) of a
    # 2-3 round run, and one fewer per-round plan for Janino to
    # compile (whole-stage codegen compilation was a measured chunk
    # of the op's session-to-session wall-time variance).
    labels = materialize(
        e.groupBy("u")
        .agg(F.min("v").alias("mv"))
        .select(
            F.col("u").alias("node"),
            F.least(F.col("u"), F.col("mv")).alias("component"),
        )
    )
    # Monotone convergence metric: components only ever shrink toward
    # the min, so an unchanged sum IS the fixpoint (one scalar agg per
    # round instead of an old⋈new anti-join). Summed as decimal(38,0):
    # exact at any node count (a BIGINT sum of 10⁹ snowflake-sized ids
    # overflows, and a DOUBLE sum could round away a small change and
    # fake convergence). Numeric ids ONLY: a string id would cast to
    # NULL under non-ANSI mode and sum(NULL) == sum(NULL) would fake
    # convergence on round 1 — non-numeric graphs use the
    # changed-label count instead (one slim labels⋈labels join per
    # round; min-propagation itself is type-agnostic).
    def _sum(lab: DataFrame):
        return lab.agg(
            F.sum(F.col("component").cast("decimal(38,0)"))
        ).first()[0]

    def _changed(prev: DataFrame, cur: DataFrame) -> int:
        p, c = prev.alias("pv"), cur.alias("cv")
        return (
            p.join(c, F.col("pv.node") == F.col("cv.node"))
            .where(F.col("pv.component") != F.col("cv.component"))
            .count()
        )

    prev_labels = labels
    prev_sum = _sum(labels) if numeric_ids else None
    for rnd in range(max_iter):
        msgs = e.join(labels, e.u == labels.node).select(
            F.col("v").alias("node"), F.col("component")
        )
        prop = labels.union(msgs).groupBy("node").agg(
            F.min("component").alias("component")
        )
        # Pointer jumping (label[n] <- label[label[n]]): one
        # labels⋈labels self-join per round squares the propagation
        # reach, so a diameter-D chain converges in O(log D) rounds
        # instead of D — the classic shortcut step (cf. Kiveris et
        # al. 2014 "Connected Components in MapReduce and Beyond").
        # The join is labels-sized (two slim columns), far smaller
        # than the edge join above.
        l, p = prop.alias("l"), prop.alias("p")
        # truncate lineage (the plan would otherwise double per round
        # and Janino compile cost would dominate by round ~8). The
        # convergence aggregate right below is the round's single
        # action — it fills the materialization and reads the sum in
        # ONE job instead of two.
        labels = materialize(
            l.join(p, F.col("l.component") == F.col("p.node"), "left")
            .select(
                F.col("l.node").alias("node"),
                F.coalesce(
                    F.col("p.component"), F.col("l.component")
                ).alias("component"),
            )
        )
        if numeric_ids:
            cur_sum = _sum(labels)
            converged = cur_sum == prev_sum
            prev_sum = cur_sum
        else:
            converged = _changed(prev_labels, labels) == 0
            prev_labels = labels
        if converged:
            if stats is not None:
                stats["rounds"] = rnd + 1
            return labels
    raise RuntimeError(
        f"connected_components: no convergence after {max_iter} rounds "
        "(long-chain graph? raise max_iter)"
    )


def dedup_clusters(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
    stats: dict | None = None,
) -> DataFrame:
    """Cluster-granular view of a near-dup pair list.

    Returns (doc_id, cluster_id) for every doc in a duplicate cluster,
    cluster_id = min doc_id of the cluster. ``doc_id == cluster_id``
    marks the cluster's canonical survivor.
    """
    cc = connected_components(pairs, src, dst, max_iter, stats=stats)
    return cc.select(
        F.col("node").alias("doc_id"), F.col("component").alias("cluster_id")
    )


def dedup_by_clusters(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "id_a",
    dst: str = "id_b",
    max_iter: int = 25,
) -> DataFrame:
    """Keep exactly one doc (the min id) per duplicate CLUSTER, plus
    every doc in no cluster.

    This is the transitively-correct version of the pairwise keep-min
    policy: for a chain a–b, b–c (a<b<c) pairwise dropping of the
    larger id of each pair keeps only ``a``, and so does this — but
    for a star a–b, a–c plus an unseen b–c the two policies already
    agree; they differ exactly when similarity is non-transitive and
    cluster semantics ("one representative per group") are what a
    training-data pipeline means by dedup.
    """
    losers = (
        dedup_clusters(pairs, src, dst, max_iter)
        .where(F.col("doc_id") != F.col("cluster_id"))
        .select(F.col("doc_id").alias(id_col))
    )
    return df.join(losers, id_col, "left_anti")
