"""Connected components over near-duplicate pair edges → dedup clusters.

The pairwise dedup tiers (MinHash/SimHash/embedding — ``dedup_text``,
``ann``) emit *edges*; production corpus cleaning needs the *clusters* those
edges imply, so one canonical document survives per component instead of the
greedy drop-the-higher-id heuristic (which over-drops on chains A–B, B–C:
the component {A,B,C} should keep exactly A, the greedy pair rule drops B
and C even when A–C was never verified — same result here, but on star
graphs the greedy rule keeps non-canonical members).

Generalizes the reference's dedup *group* notion (symlink groups keyed by a
canonical block, ``pkg/quadtreeImage/quadtreeElement.go:176-221``) from
pointer identity to any pair relation.

Algorithms (two, same signature, ``algorithm=`` selects):

- ``propagation`` — iterative min-label propagation (each node adopts the
  minimum label in its closed neighborhood): converges in ``diameter``
  rounds, each round ONE shuffle join + ONE aggregation over the edge
  list. Near-dup components are small and shallow by construction
  (boilerplate clusters are stars around the earliest copy), so 2–3
  rounds is typical; the loop stops at the first fixpoint and lineage is
  bounded by a local checkpoint per round. The right default for dedup
  shapes.
- ``alternating`` — the large-star/small-star algorithm of Kiveris et al.,
  "Connected Components in MapReduce and Beyond" (SoCC'14): alternately
  rewire every node's strictly-larger neighbors (large-star) then its
  smaller neighbors and itself (small-star) to the minimum of its closed
  neighborhood, until the edge set is a fixpoint of component-min stars.
  Converges in O(log² n) rounds REGARDLESS of diameter — the scale path
  for adversarial long-chain graphs (crawl rings, version chains) where
  propagation's O(diameter) shuffle count would be unbounded.
- ``auto`` (default) — size-adaptive: an edge set within
  ``driver_edge_cap`` (gated by one bounded ``limit(cap+1).collect()``
  over the already-materialized edge frame, whose rows double as the
  fetched edge list) is solved driver-side with union-find — at that size the iterative tiers' ~2 scheduled
  jobs per round are pure latency floor. Larger sets run propagation for
  up to ``max_iters`` rounds, then fall back to ``alternating`` from
  scratch instead of aborting: cheap on the common shallow graphs, still
  guaranteed to finish on pathological ones.

Deterministic (min over ids), so the whole computation is replicated in the
DuckDB oracle as a recursive CTE (min reachable id per node).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F


def connected_components(nodes: DataFrame, pairs: DataFrame,
                         id_col: str = "doc_id",
                         a_col: str = "doc_a", b_col: str = "doc_b",
                         max_iters: int = 25,
                         algorithm: str = "auto",
                         driver_edge_cap: int = 200_000) -> DataFrame:
    """Component id (= min member id) per node.

    ``nodes``: one row per entity (singletons become their own component).
    ``pairs``: undirected edges, any extra columns ignored. Duplicates are
    kept: labels stay correct, but every copy is re-joined each round, so
    they multiply the per-round fan-out (and count against
    ``driver_edge_cap``) — pass distinct edges if a pair can repeat.
    ``algorithm``: ``"auto"`` (small edge sets solved driver-side, then
    propagation, then alternating fallback past ``max_iters``),
    ``"propagation"`` (raises past ``max_iters``), or ``"alternating"``
    (large-star/small-star from the start).
    ``driver_edge_cap``: ``auto`` only — an edge set at most this large
    (counted AFTER the node-set restriction, from the already-checkpointed
    frame, so the gate costs one cheap job) is solved with one collect +
    union-find instead of the iterative loop. Near-dup edge sets are tiny
    relative to their corpus (LSH pairs over 5k docs ≈ hundreds of edges),
    and the iterative algorithms pay ~2 scheduled jobs per round — a
    latency floor that dwarfs the work at that size. The cap bounds the
    collect at a few MB; 0 disables the tier. At 100 TB the post-LSH edge
    set exceeds any sane cap and flows to the distributed tiers unchanged.
    Returns (``id_col``, component_id, component_size, is_canonical).
    """
    if algorithm not in ("auto", "propagation", "alternating"):
        raise ValueError(f"unknown algorithm {algorithm!r}")
    node_ids = nodes.select(F.col(id_col).alias("x")).distinct()
    # symmetric closed edge list: x→y for every pair, both directions.
    # Edges are RESTRICTED to the node set (semi-joins on both endpoints):
    # an edge through an id absent from ``nodes`` (e.g. a doc filtered out
    # upstream of the component step) must not act as a bridge — without
    # the restriction the label join silently drops such edges here while
    # a reachability-based oracle would follow them, and the "component"
    # could even be labeled by an id that no longer exists.
    # pairs is referenced by BOTH union branches below; without a persist
    # the upstream pair-generating plan (e.g. the MinHash-LSH band join)
    # executes twice inside the one checkpoint job. Tracked → released at
    # the caller's query boundary.
    from ..functions.cache import persist_tracked
    pairs2 = persist_tracked(pairs.select(F.col(a_col).alias("a"),
                                          F.col(b_col).alias("b")))
    a = pairs2.select(F.col("a").alias("x"), F.col("b").alias("y"))
    b = pairs2.select(F.col("b").alias("x"), F.col("a").alias("y"))
    # no distinct on the edge list (r6): every tier is label-min/union-find
    # arithmetic, for which duplicate edges are harmless — the distinct was
    # one more exchange + aggregate, and under AQE one more sequential
    # stage-materialization job inside the eager checkpoint of a usually
    # tiny frame (the components queries are job-latency-bound: ~25
    # sub-second jobs each at sf1). The driver-tier gate now counts
    # pre-dedup rows, which only makes the cap more conservative.
    edges = (a.unionByName(b)
             .join(node_ids, "x", "left_semi")
             .join(node_ids.withColumnRenamed("x", "y"), "y", "left_semi")
             .localCheckpoint(eager=True))
    # pairs2 stays registered until the caller's query-boundary release —
    # a manual unpersist here would leave a stale registry entry behind

    labels = None
    if algorithm == "auto" and driver_edge_cap > 0:
        # ONE job gates AND fetches (r6): collect limit(cap+1) rows — at
        # most cap+1 ever cross to the driver (same bound the old
        # limit+count gate enforced), and when the set fits, the rows are
        # already here, saving the second edges.collect() job of the
        # latency-bound small-graph path.
        probe = edges.limit(driver_edge_cap + 1).collect()
        if len(probe) <= driver_edge_cap:
            labels = _driver_labels(node_ids, edges, rows=probe)
    if labels is None and algorithm in ("auto", "propagation"):
        labels = _propagate_labels(node_ids, edges, max_iters)
        if labels is None and algorithm == "propagation":
            # silently-wrong labels would poison the dedup election
            # downstream; auto (the default) falls back instead of raising
            raise RuntimeError(
                f"connected_components did not converge in {max_iters} "
                "rounds (component diameter exceeds the propagation "
                "budget); use algorithm='auto' or 'alternating'")
    if labels is None:
        labels = _alternating_labels(node_ids, edges)

    w = Window.partitionBy("label")
    return (labels
            .withColumn("component_size", F.count(F.lit(1)).over(w))
            .select(F.col("x").alias(id_col),
                    F.col("label").alias("component_id"),
                    "component_size",
                    (F.col("x") == F.col("label")).alias("is_canonical")))


def _driver_labels(node_ids: DataFrame, edges: DataFrame,
                   rows=None) -> DataFrame:
    """Small-graph tier: union-find over a collected edge list. The caller
    gates the collect at ``driver_edge_cap`` rows (a few MB) — this is the
    contractually-bounded kind of driver work (like the kNN pending set),
    not a driver loop over table-scale data. One collect + one
    createDataFrame replaces ~2 jobs × diameter rounds of scheduling
    latency, which dominates the iterative tiers on small graphs."""
    if rows is None:
        rows = edges.collect()  # ≤ driver_edge_cap rows by the caller's gate
    parent: dict = {}

    def find(v):
        r = v
        while parent[r] != r:
            r = parent[r]
        while parent[v] != r:  # path compression
            parent[v], v = r, parent[v]
        return r

    for row in rows:
        x, y = row[0], row[1]
        for v in (x, y):
            if v not in parent:
                parent[v] = v
        rx, ry = find(x), find(y)
        if rx != ry:
            parent[rx] = ry
    comp_min: dict = {}
    for v in parent:
        r = find(v)
        if r not in comp_min or v < comp_min[r]:
            comp_min[r] = v
    from pyspark.sql.types import StructField, StructType
    xf = edges.schema.fields[0]
    schema = StructType([StructField("x", xf.dataType, False),
                         StructField("label", xf.dataType, False)])
    lab = edges.sparkSession.createDataFrame(
        [(v, comp_min[find(v)]) for v in parent], schema)
    # singletons (no edges) re-enter as their own component
    return (node_ids.join(F.broadcast(lab), "x", "left")
            .select("x", F.coalesce("label", "x").alias("label")))


def _propagate_labels(node_ids: DataFrame, edges: DataFrame,
                      max_iters: int) -> DataFrame | None:
    """Min-label propagation over symmetric ``edges`` (x, y): each node
    adopts the min label of its closed neighborhood per round. Returns the
    converged (x, label) frame, or None if ``max_iters`` rounds did not
    reach the fixpoint (caller decides: raise or fall back).

    The loop runs over EDGE-TOUCHING nodes only — a node with no edge is
    its own component and can never change label, so it joins the result
    once at the end instead of riding through every round's join +
    checkpoint. At corpus scale this is the difference between rounds ×
    |near-dup subgraph| and rounds × |corpus| (most documents are not
    near-duplicates of anything; r5)."""
    touched = edges.select("x").distinct()
    labels = (touched
              .withColumn("label", F.col("x"))
              .localCheckpoint(eager=True))
    converged = False
    for _ in range(max_iters):
        # min label among neighbors; closed neighborhood via the outer join
        nbr_min = (edges.join(labels.withColumnRenamed("x", "y"), "y")
                   .groupBy("x").agg(F.min("label").alias("nbr_label")))
        # the old label rides the same projection into the checkpoint, so
        # convergence detection is a cheap scan of checkpointed rows — NOT
        # a third shuffle join per round (labels ⋈ new) as it was pre-r5
        stepped = (labels.join(nbr_min, "x", "left")
                   .select("x", F.col("label").alias("_old"),
                           F.least(F.col("label"),
                                   F.coalesce("nbr_label", "label"))
                           .alias("label"))
                   .localCheckpoint(eager=True))  # bound plan growth per round
        changed = (stepped.where(F.col("label") != F.col("_old"))
                   .limit(1).count())
        labels = stepped.select("x", "label")
        if changed == 0:
            converged = True
            break
    if not converged:
        return None
    # singletons (no edges) re-enter as their own component
    return (node_ids.join(labels, "x", "left")
            .select("x", F.coalesce("label", "x").alias("label")))


def _alternating_labels(node_ids: DataFrame, edges: DataFrame) -> DataFrame:
    """Large-star/small-star alternation (Kiveris et al., SoCC'14) — the
    O(log² n)-round variant whose shuffle count is independent of component
    diameter.

    Per round over the (larger → smaller oriented) edge set E:

    - **large-star**: symmetrize E; per node u with neighbors Γ(u) and
      m = min(Γ(u) ∪ {u}), emit (v, m) for every v ∈ Γ(u) with v > u.
    - **small-star**: orient E larger→smaller; per node u with (smaller)
      neighbors N(u) and m = min(N(u) ∪ {u}), emit (v, m) for every
      v ∈ N(u) ∪ {u}, v ≠ m.

    Both preserve connectivity and strictly shrink the potential until the
    fixpoint, where E is exactly the star {(v, root_v)} — each node's one
    edge points at its component minimum. Each half-round is one
    aggregation + one equi-join on the node key; plan lineage is bounded
    with a local checkpoint per round, and the fixpoint test is an
    order-insensitive checksum (count + xor of row hashes) of the edge
    set — one tiny extra action per round, no full edge-set comparison
    join."""
    # orient larger → smaller; self-loops carry no connectivity
    cur = (edges.where(F.col("x") != F.col("y"))
           .select(F.greatest("x", "y").alias("u"),
                   F.least("x", "y").alias("v"))
           .distinct()
           .localCheckpoint(eager=True))

    def checksum(e: DataFrame):
        row = (e.agg(F.count(F.lit(1)).alias("n"),
                     F.coalesce(F.bit_xor(F.xxhash64("u", "v")), F.lit(0))
                     .alias("x")).collect()[0])
        return (row["n"], row["x"])

    sig = checksum(cur)
    for _ in range(200):  # safety rail only: O(log² n) ≪ 200 for any n
        prev = cur
        # large-star over the symmetrized set
        sym = cur.unionByName(cur.select(F.col("v").alias("u"),
                                         F.col("u").alias("v")))
        mins = (sym.groupBy("u").agg(F.min("v").alias("mv"))
                .select("u", F.least("u", "mv").alias("m")))
        cur = (sym.join(mins, "u")
               .where(F.col("v") > F.col("u"))
               .select(F.col("v").alias("u"), F.col("m").alias("v"))
               .where(F.col("u") != F.col("v"))
               .distinct())
        # small-star over the larger→smaller orientation (already holds:
        # large-star only ever emits larger → closed-neighborhood min)
        mins = (cur.groupBy("u").agg(F.min("v").alias("mv"))
                .select("u", F.least("u", "mv").alias("m")))
        cur = (cur.join(mins, "u")
               .select(F.col("v").alias("u"), F.col("m").alias("v"))
               .unionByName(mins.select(F.col("u"), F.col("m").alias("v")))
               .where(F.col("u") != F.col("v"))
               .distinct()
               .localCheckpoint(eager=True))
        new_sig = checksum(cur)
        if new_sig == sig:
            # checksum-collision guard: a colliding (count, xor-of-hashes)
            # between DISTINCT edge sets would terminate early and silently
            # mislabel a dedup-election input. Both frames are distinct sets
            # with equal counts (count is part of the checksum), so one
            # exceptAll emptiness check proves exact set equality. Runs at
            # most once per call (only when the checksum already matched).
            if cur.exceptAll(prev).isEmpty():
                break
        sig = new_sig
    else:
        raise RuntimeError(
            "alternating connected components did not reach a fixpoint in "
            "200 rounds — O(log² n) bounds this far below 200 for any "
            "realizable n, so this indicates corrupt edge input")

    # fixpoint edges are (node → component min); roots have no out-edge
    stars = cur.groupBy("u").agg(F.min("v").alias("root"))
    return (node_ids.join(stars.withColumnRenamed("u", "x"), "x", "left")
            .select("x", F.coalesce("root", "x").alias("label")))


def components_recursive_sql(nodes_sql: str, pairs_sql: str,
                             id_col: str = "doc_id",
                             a_col: str = "doc_a",
                             b_col: str = "doc_b") -> str:
    """DuckDB oracle: min reachable id per node via a recursive CTE —
    independent semantics for :func:`connected_components` (UNION dedup
    terminates the recursion on cycles). Edges are restricted to the node
    set on both endpoints, mirroring the operator: an id absent from
    ``nodes`` never bridges two components."""
    return f"""
      WITH RECURSIVE
      nodes AS ({nodes_sql}),
      rawp AS ({pairs_sql}),
      edges AS (SELECT x, y FROM (
                  SELECT {a_col} AS x, {b_col} AS y FROM rawp
                  UNION SELECT {b_col}, {a_col} FROM rawp)
                WHERE x IN (SELECT {id_col} FROM nodes)
                  AND y IN (SELECT {id_col} FROM nodes)),
      reach(src, node) AS (
        SELECT {id_col}, {id_col} FROM nodes
        UNION
        SELECT r.src, e.y FROM reach r JOIN edges e ON e.x = r.node),
      comp AS (SELECT src AS {id_col}, min(node) AS component_id
               FROM reach GROUP BY src)
      SELECT {id_col}, component_id,
             CAST(count(*) OVER (PARTITION BY component_id) AS BIGINT)
               AS component_size,
             {id_col} = component_id AS is_canonical
      FROM comp
    """
