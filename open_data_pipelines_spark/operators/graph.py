"""Graph operators for dedup clustering (engine extension; the
training-data endgame of the near-dup pipelines in
:mod:`.text_dedup` / :mod:`.similarity`).

Pair lists (MinHash/SimHash/embedding near-dups) answer "which two
docs collide" — deduplication needs the transitive closure: CLUSTERS,
with one canonical representative kept per cluster. That is connected
components over the pair graph.

Implementation is iterative min-label propagation expressed as
DataFrame joins: every node's label becomes the min of its own and
its neighbors' labels until fixpoint. Each round is one hash-shuffle
join + one aggregation, and lineage is truncated per round with an
eager ``localCheckpoint`` (swap for a reliable ``checkpoint`` dir on a
real cluster). Rounds needed equal the graph diameter; near-dup
clusters are shallow (dups of a doc are dups of each other), so this
converges in a handful of rounds. For adversarially deep graphs
(long chains), :func:`connected_components` also ships the
large-star/small-star alternation of Kiveris et al. ("Connected
Components in MapReduce and Beyond", SoCC'14), which converges in
O(log^2 n) rounds — same join primitives, selectable via
``algorithm="star"`` (the propagation loop stays the default: it is
the simple, oracle-matchable variant, and near-dup graphs are
shallow).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.dimframe import dim_frame


class ConvergenceError(RuntimeError):
    """Label propagation did not reach fixpoint within max_rounds."""


def connected_components(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_rounds: int = 25,
    algorithm: str = "propagation",
    driver_max_edges: int = 200_000,
    include_sizes: bool = False,
) -> DataFrame:
    """(node, component) for every node appearing in ``edges``.

    ``component`` is the minimum node id in the node's connected
    component (deterministic canonical label). Nodes with no edges are
    absent — union singletons in the caller if needed.

    ``algorithm="propagation"`` (default): min-label propagation,
    O(diameter) rounds — right for shallow near-dup graphs.
    ``algorithm="star"``: large-star/small-star contraction
    (Kiveris et al., SoCC'14), O(log^2 n) rounds — right for deep
    chains where propagation would need diameter rounds.
    ``algorithm="auto"``: size-gated strategy chooser, the graph
    analogue of a broadcast-join threshold. The RAW directed edge
    list is materialized and counted once (round-15 — no symmetric
    union, no distinct: union-find is idempotent under duplicates and
    orientation-agnostic, and a duplicate-heavy input only gates MORE
    conservatively since raw count >= unique count); at or under
    ``driver_max_edges`` raw edges (a few MB — near-dup graphs
    after thresholding are tiny relative to the corpus) components
    are solved in ONE driver union-find pass instead of paying the
    iterative loop's per-round fixed costs (each round is a join, an
    aggregation, and a checkpoint — seconds of overhead to propagate
    labels over a few hundred edges). Past the gate it runs the
    distributed propagation loop, escalating to star contraction if no
    fixpoint lands within ``max_rounds``. Identical output on every
    path: min-node-id labels.

    ``include_sizes=True`` appends ``cluster_size`` (members per
    component). On the driver union-find path the counts fold in
    Python for free; the distributed paths pay the same one tiny
    aggregation + broadcast join ``cluster_members`` always did —
    round-15: keeping the sizes join off the driver path removes two
    plan compiles and their stage jobs from every dedup endgame.
    """
    if algorithm == "star":
        comp = _connected_components_star(edges, src, dst, max_rounds)
        return _with_sizes(comp) if include_sizes else comp
    if algorithm not in ("propagation", "auto"):
        raise ValueError(f"unknown algorithm {algorithm!r}")
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    ep = None
    if algorithm == "auto":
        # Gate on the RAW directed edge list (round-15): the symmetric
        # union + distinct below exists for the LOOP (duplicate edges
        # would be re-joined every round), but union-find is
        # idempotent under duplicates and orientation-agnostic — the
        # common small-graph path now never executes that exchange,
        # and the gate count materializes the (expensive) pair subtree
        # straight into the cache the collect reuses. Duplicate-heavy
        # inputs gate conservatively (raw count >= unique count), so
        # the <= driver_max_edges collect bound still holds.
        ep = e.persist()
        if ep.count() <= driver_max_edges:
            try:
                return _components_driver_union_find(ep, include_sizes)
            finally:
                ep.unpersist()
        e = ep  # big graph: the loop's adj build below reuses the cache
    adj = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).distinct().persist()
    try:
        try:
            comp = _propagation_loop(adj, max_rounds)
        except ConvergenceError:
            if algorithm != "auto":
                raise
            # star needs O(log^2 n) rounds, not O(diameter) — its own
            # max_rounds budget is fresh and ample at any real scale
            comp = _connected_components_star(edges, src, dst, max(max_rounds, 64))
        return _with_sizes(comp) if include_sizes else comp
    finally:
        adj.unpersist()
        if ep is not None:
            ep.unpersist()


def _with_sizes(comp: DataFrame) -> DataFrame:
    """Append ``cluster_size`` to a (node, component) frame: one tiny
    aggregation on the labels, broadcast back (component count is tiny
    relative to nodes) — the exact shape ``cluster_members`` carried
    before round 15."""
    sizes = comp.groupBy("component").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return comp.join(F.broadcast(sizes), "component").select(
        "node", "component", "cluster_size"
    )


def _components_driver_union_find(
    adj: DataFrame, include_sizes: bool = False
) -> DataFrame:
    """Union-find over a bounded, already-materialized edge set —
    ≤ ``driver_max_edges`` rows ever reach the driver (the same
    bounded-collect discipline as broadcast thresholds). Union-by-min
    with path compression: the root of every set is its minimum
    member, so labels equal the propagation/star result exactly.
    Takes the RAW directed edge rows (round-15 — no symmetric union,
    no distinct: union-find is idempotent under duplicates and
    orientation-agnostic); self-loop rows still seed their node, as
    the propagation loop's ``adj.select("a").distinct()`` does.
    NULL-keyed rows are dropped before the collect: the pre-round-15
    ``a <= b`` orientation filter silently dropped them via NULL
    propagation, and ``None <= int`` would raise in the Python
    union-find (round-16 advice)."""
    rows = adj.filter(F.col("a").isNotNull() & F.col("b").isNotNull()).collect()
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for r in rows:
        a, b = r["a"], r["b"]
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        if a == b:
            continue
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo  # min stays the root
    labels = [(n, find(n)) for n in parent]
    node_type = adj.schema["a"].dataType
    fields = [T.StructField("node", node_type), T.StructField("component", node_type)]
    if include_sizes:
        # sizes fold in Python for free here (round-15): the labels
        # already live on the driver, so the separate groupBy +
        # broadcast-join pass the distributed paths need would only
        # add two plan compiles and their stage jobs
        from collections import Counter

        per_comp = Counter(c for _, c in labels)
        labels = [(n, c, per_comp[c]) for n, c in labels]
        fields.append(T.StructField("cluster_size", T.LongType(), False))
    schema = T.StructType(fields)
    spark = adj.sparkSession
    # dim_frame (round-15): Arrow LocalRelation — the label frame is
    # bounded by driver_max_edges, so its consumers (broadcast joins
    # in every dedup endgame) collect driver rows with no job and no
    # Python worker; with Arrow off the parallelize RDD form takes
    # the explicit slice count (functions/dimframe.py)
    slices = max(1, min(8, len(labels) // 20_000))
    return dim_frame(spark, labels, schema, slices=slices)


def _propagation_loop(adj: DataFrame, max_rounds: int) -> DataFrame:
    """Distributed min-label propagation over a persisted symmetric
    adjacency frame; lineage truncated per round."""
    labels = (
        adj.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("component", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_rounds):
        nbr_min = (
            adj.join(labels, adj["b"] == labels["node"])
            .groupBy("a")
            .agg(F.min("component").alias("nbr_min"))
        )
        stepped = (
            labels.join(nbr_min, labels["node"] == nbr_min["a"], "left")
            .select(
                "node",
                "component",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("nbr_min"), F.col("component")),
                ).alias("new_component"),
            )
            .localCheckpoint(eager=True)
        )
        changed = stepped.filter(
            F.col("new_component") != F.col("component")
        ).count()
        labels = stepped.select("node", F.col("new_component").alias("component"))
        if changed == 0:
            return labels
    raise ConvergenceError(
        f"no fixpoint after {max_rounds} rounds - deep chain graph? "
        "raise max_rounds or use a star-contraction variant"
    )


def _connected_components_star(
    edges: DataFrame,
    src: str,
    dst: str,
    max_rounds: int,
) -> DataFrame:
    """Large-star/small-star alternation (Kiveris et al., SoCC'14).

    Each round is two grouped joins over the (shrinking) edge list:

    - **large-star**: every node attaches its strictly-larger
      neighbors to the minimum of its closed neighborhood — long
      chains halve in depth;
    - **small-star**: every node attaches its smaller-or-equal
      neighbors (and itself) to that minimum — stars flatten.

    At fixpoint the edge list is exactly (child -> component-minimum)
    pointers, read off directly as labels. Fixpoint detection compares
    the distinct edge set by (count, XOR of xxhash64) — one tiny
    aggregate per round, no driver-side edge collection. Same
    shuffle-key discipline as propagation: every join/groupBy keys on
    a node id, and ``localCheckpoint`` truncates lineage per round.
    """
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # the contraction works on non-self edges, but a node appearing
    # ONLY in self-loop rows must still label itself — propagation and
    # the driver union-find both keep such nodes by design, and the
    # three paths' outputs are contract-identical (round-9 review
    # find: star silently dropped them, making auto's result shape
    # depend on which path ran). Re-seed them at the end.
    all_nodes = (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .distinct()
    )
    sig_prev: tuple[int, int] | None = None
    for _ in range(max_rounds):
        # large-star: symmetric neighborhoods, m = min(N(u) + {u})
        nbrs = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = nbrs.groupBy("u").agg(F.min("v").alias("__mn"))
        mins = mins.select("u", F.least("__mn", F.col("u")).alias("m"))
        e = (
            nbrs.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star: orient to (larger, smaller), attach all + self to min
        oriented = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        mins = oriented.groupBy("u").agg(F.min("v").alias("m"))
        e = (
            oriented.join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionByName(mins.select("u", F.col("m").alias("v")))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # set signature: count + XOR of per-edge hashes (edges are
        # distinct, so XOR is an order-independent, overflow-free
        # (ANSI-safe) multiset-of-distinct fingerprint)
        sig_row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0)).alias("h"),
        ).collect()[0]
        sig = (sig_row["n"], sig_row["h"])
        if sig == sig_prev:
            roots = e.select(F.col("v").alias("node")).distinct().withColumn(
                "component", F.col("node")
            )
            labeled = e.select(
                F.col("u").alias("node"), F.col("v").alias("component")
            ).unionByName(roots)
            # self-loop-only nodes never entered the contraction —
            # they label themselves, exactly as the other paths do
            singletons = all_nodes.join(labeled, "node", "left_anti").withColumn(
                "component", F.col("node")
            )
            return labeled.unionByName(singletons)
        sig_prev = sig
    raise ConvergenceError(f"star contraction: no fixpoint after {max_rounds} rounds")


def cluster_members(
    edges: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    algorithm: str = "propagation",
) -> DataFrame:
    """(doc_id, cluster_rep, cluster_size) for every clustered node.

    ``cluster_rep`` is the canonical keeper (min id); dedup drops every
    row where ``doc_id != cluster_rep``. Sizes come with the labels
    (``include_sizes=True``): folded driver-side on the union-find
    path, one extra aggregation broadcast back on the distributed
    paths (component count is tiny relative to nodes).
    """
    comp = connected_components(
        edges, src, dst, algorithm=algorithm, include_sizes=True
    )
    return comp.select(
        F.col("node").alias("doc_id"),
        F.col("component").alias("cluster_rep"),
        "cluster_size",
    )


def keep_cluster_representatives(
    df, pairs, id_col: str, src: str = "id_a", dst: str = "id_b"
):
    """The dedup endgame shared by every near-dup modality (text /
    image / audio / video): cluster the candidate pairs, keep the
    minimum-id representative per cluster, drop the rest from ``df``
    with a keyed anti-join. Rows absent from ``pairs`` (no duplicate
    evidence, incl. NULL-signature quarantine rows) are kept.
    Centralized so a policy change (tie-breaking, quarantine) cannot
    silently diverge across modalities."""
    from pyspark.sql import functions as F

    clusters = cluster_members(pairs, src, dst, algorithm="auto")
    drop = clusters.filter(F.col("doc_id") != F.col("cluster_rep")).select(
        F.col("doc_id").alias(id_col)
    )
    return df.join(drop, id_col, "left_anti")
