"""Connected components over duplicate-pair edges: the dedup endgame.

LSH/SimHash emit near-dup PAIRS; actually deduplicating a corpus needs
the transitive closure — every connected component keeps one canonical
document. Implemented as min-label propagation in pure joins/groupBys — no graph
library. Each round every node takes the minimum component label among
itself and its neighbors, so convergence is O(component diameter)
rounds; near-dup clusters are dense and shallow (diameter ≲ 3), which
makes label propagation the right trade here. For adversarial
long-chain graphs, the alternating large-star/small-star formulation
(Kiveris et al., SoCC 2014) gives O(log n) rounds with the same
join/groupBy building blocks.

Scale: each round is two self-joins + aggregations on the edge list;
edges shrink monotonically toward star graphs. Convergence is checked
with a cheap count of changed assignments. Lineage is truncated with
``localCheckpoint``: eagerly for the initial edge list, lazily per
round so the convergence check's action materializes it in the same
job. At 100 TB a reliable ``checkpoint()`` every few rounds does the
same job and survives executor loss.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """(node, component) assignment; component = min node id reachable.

    `pairs` is an undirected edge list. Isolated nodes don't appear —
    left-join the corpus afterwards and coalesce to the node's own id
    (see `canonical_ids`).
    """
    edges = (
        pairs.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    # Start: every node points to the min of itself and its neighbors.
    neighbors = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    # Materialize the edge list ONCE: it feeds every propagation round,
    # and without this each round re-executes the whole upstream pair
    # lineage (shingle -> minhash -> banded join), which dominated the
    # sf1 soak (docs_dedup_clusters ~305 s; the propagation itself is
    # a few seconds per round). At cluster scale this is the
    # 'checkpoint the edge list' step from the module docstring.
    neighbors = neighbors.localCheckpoint(eager=True)
    assign = neighbors.groupBy("u").agg(F.least(F.min("v"), F.first("u")).alias("c"))
    assign = assign.select(
        F.col("u").alias("node"), F.least("c", "u").alias("comp")
    )

    for _ in range(max_iterations):
        # Propagate: node's comp := min(comp of node, comps of neighbors).
        n1 = neighbors.join(
            assign.withColumnRenamed("node", "v").withColumnRenamed("comp", "vc"),
            "v",
        ).select("u", "vc")
        new_assign = (
            n1.union(assign.select(F.col("node").alias("u"), F.col("comp").alias("vc")))
            .groupBy("u")
            .agg(F.min("vc").alias("comp"))
            .select(F.col("u").alias("node"), "comp")
        )
        # LAZY checkpoint + the changed-count action below = ONE job
        # per round (guide §1.2: fewer driver-side jobs in iterative
        # loops): the count materializes the checkpoint blocks as a
        # side effect, where an eager checkpoint ran its own job first
        # and the count a second. Blocks land before any later round
        # re-reads new_assign, so lineage is truncated identically.
        new_assign = new_assign.localCheckpoint(eager=False)
        changed = (
            new_assign.alias("n")
            .join(assign.alias("o"), F.col("n.node") == F.col("o.node"))
            .filter(F.col("n.comp") != F.col("o.comp"))
            .limit(1)
            .count()
        )
        assign = new_assign
        if changed == 0:
            break
    return assign


def connected_components_star(
    pairs: DataFrame,
    src: str = "id_a",
    dst: str = "id_b",
    max_iterations: int = 50,
) -> DataFrame:
    """Alternating large-star/small-star connected components
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC 2014): same (node, component) output as
    `connected_components`, but converging in O(log n) rounds on ANY
    graph shape — including long chains, where min-label propagation
    needs O(diameter) rounds. Use this variant when duplicate chains
    can be long (transcription chains, near-dup drift over time);
    label propagation stays the cheaper choice for the dense shallow
    clusters LSH/SimHash emit.

    Both operations are a groupBy + join on the symmetric edge view:

    - large-star: every node u links each LARGER neighbor v > u to
      m = min(neighborhood(u) + u) — hooks high nodes downward across
      the whole neighborhood at once;
    - small-star: every node u re-links its smaller neighbors (and
      itself) to their minimum — flattens local stars.

    Each round strictly shrinks the potential Σ(u - comp_min) and the
    edge list converges to a star forest: every edge is (node, root).
    Convergence is detected by an order-insensitive edge-set checksum
    (count + sum of a 64-bit hash); the star forest is then read off
    directly as the assignment. Scale: two shuffles per round on a
    monotonically shrinking edge list, O(log n) rounds, no driver
    state beyond the 2-value checksum."""
    edges = (
        pairs.select(
            F.greatest(F.col(src), F.col(dst)).alias("u"),
            F.least(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    # Materialize the INITIAL edge list too (the per-round checkpoint
    # below only covers later rounds): the first large-star otherwise
    # re-executes the whole upstream pair lineage — for LSH near-dup
    # input that is shingle -> minhash -> banded join — once per
    # reference to `e` (sym + mins + join).
    edges = edges.localCheckpoint(eager=True)

    def _sym(e: DataFrame) -> DataFrame:
        return e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))

    def _checksum(e: DataFrame):
        # XOR-fold of per-edge 64-bit hashes: order-insensitive over
        # the (distinct) edge set and immune to ANSI-mode sum overflow.
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ).collect()[0]
        return row["n"], row["h"]

    def _large_star(e: DataFrame) -> DataFrame:
        nbrs = _sym(e)
        mins = nbrs.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("mn")
        )
        return (
            nbrs.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("mn").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def _small_star(e: DataFrame) -> DataFrame:
        # e is canonically oriented u > v, so e IS the small-neighbor view.
        mins = e.groupBy("u").agg(F.min("v").alias("mn"))
        relink = (
            e.join(mins, "u")
            .filter(F.col("v") != F.col("mn"))
            .select(F.col("v").alias("u"), F.col("mn").alias("v"))
        )
        self_link = mins.select("u", F.col("mn").alias("v"))
        return relink.union(self_link).filter(
            F.col("u") != F.col("v")
        ).distinct()

    prev = None
    for _ in range(max_iterations):
        edges = _small_star(_large_star(edges))
        # LAZY checkpoint: the checksum action materializes the
        # checkpoint blocks in the SAME job (one job per round, not
        # two — guide §1.2). The next round's references then read the
        # cached blocks exactly as with the eager form; the checksum
        # value — and so the convergence decision — is unchanged.
        edges = edges.localCheckpoint(eager=False)
        cur = _checksum(edges)
        if cur == prev:
            break
        prev = cur
    # Star forest: every edge is (node, component-root); roots appear
    # only on the v side and map to themselves.
    roots = edges.select(F.col("v").alias("node")).distinct().join(
        edges.select(F.col("u").alias("node")).distinct(), "node", "left_anti"
    )
    return (
        edges.select(F.col("u").alias("node"), F.col("v").alias("comp"))
        .union(roots.select("node", F.col("node").alias("comp")))
        .distinct()
    )


def canonical_ids(
    corpus: DataFrame, components: DataFrame, id_col: str
) -> DataFrame:
    """Attach each document's canonical (keep) id: its component min,
    or itself when it has no duplicates."""
    comp = components.withColumnRenamed("node", id_col)
    return corpus.join(comp, id_col, "left").withColumn(
        "canonical_id", F.coalesce(F.col("comp"), F.col(id_col))
    ).drop("comp")


def canonical_best(
    corpus: DataFrame,
    components: DataFrame,
    id_col: str,
    score_col: str,
) -> DataFrame:
    """Quality-aware canonical selection: within each duplicate
    cluster keep the HIGHEST-``score_col`` member (ties break on the
    lower id) rather than the lowest id — the policy real curation
    uses, so a cluster's cleanest copy survives (e.g. quality_score
    from the text profile, or -nll from LM scoring).

    One aggregation over the component assignment joined with scores:
    per component, ``max(struct(score, -id))`` picks the winner
    map-side (no window over the corpus), then the winner maps back
    onto every member. Adds one broadcast-able join on the (small)
    per-component winner table; isolated docs keep themselves.
    """
    comp = components.withColumnRenamed("node", id_col)
    scored = corpus.select(id_col, score_col).join(comp, id_col, "left")
    member = scored.withColumn(
        "__c", F.coalesce(F.col("comp"), F.col(id_col))
    )
    winners = member.groupBy("__c").agg(
        F.max(
            F.struct(
                F.col(score_col).alias("s"),
                (-F.col(id_col)).alias("neg_id"),
            )
        ).alias("w")
    ).select(
        "__c", (-F.col("w.neg_id")).cast("long").alias("canonical_id")
    )
    return (
        member.join(winners, "__c")
        .select(id_col, score_col, "canonical_id")
    )
