"""Weighted PageRank on a DataFrame edge list (Pregel-on-DataFrames).

Web-scale training corpora carry a link graph, and link-centrality is a
classic curation signal (a page's rank feeds quality weighting the same
way the fastText classifier or the unigram-LM perplexity does — e.g.
harmonic-centrality filtering in Common Crawl derivatives). This module
gives the engine a deterministic, oracle-checkable PageRank over any
``(src, dst, w)`` edge relation, expressed purely in DataFrame ops:

* per-iteration cost is one equi-join of the (persisted, pre-partitioned
  by ``src``) normalized edge relation against the current ranks, one
  map-side-combined shuffle keyed by ``dst``, and one left join back to
  the node set — never an all-pairs product, never a driver collect;
* the edge relation is normalized ONCE (`w / out_w`) and reused across
  iterations from cache — the expensive lineage (usually a join+agg to
  build edges) is not recomputed per iteration;
* iterations are a fixed count, not a convergence test: deterministic
  output, no driver-side reduce per step. 4–10 iterations is the usual
  curation-quality sweet spot; pass ``checkpoint_every`` to truncate
  lineage for deeper runs (AQE otherwise re-plans an ever-growing DAG).

Cross-engine exactness (the DuckDB-oracle contract): the only
order-dependent float operation in PageRank is the per-node SUM of edge
contributions, so each contribution ``rank * frac`` is floor-quantized
to integer units of 1e-15 (``floor(x * 1e15)`` — exact for doubles
below 2^53) and summed as ``DECIMAL(38,0)`` — integer addition is
exact and associative, and every other step (IEEE double
multiply/divide with bit-identical literals both sides) is
deterministic. A plain ``CAST(double AS DECIMAL(38,18))`` is NOT
portable: Spark converts through the double's shortest decimal
rendering (``BigDecimal.valueOf``) while DuckDB converts the exact
binary expansion, and the two disagree in the 18th place (measured:
8/105 rank values off by one ulp). Ranks as computed here hash-match
the SQL twin WITHOUT any tolerance or rounding.

Dangling nodes: the default input contract is that every node of
interest appears as a ``src`` (an undirected graph encoded as two
directed edges satisfies this by construction — see ``undirect``).
Nodes that never occur as ``src`` would leak their rank mass;
``pagerank`` derives the node set from ``src`` so the contract is
structural, not a runtime check a 100 TB job would pay for. For real
directed link graphs (full of sink hosts), pass
``dangling='redistribute'`` — the textbook treatment: the node
universe becomes ``src UNION dst`` and each iteration redistributes
the sinks' mass over the teleport distribution, conserving total mass
(see ``pagerank_multi``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ._cache import scoped_persist


def undirect(edges: DataFrame) -> DataFrame:
    """Encode an undirected ``(src, dst, w)`` edge list as two directed
    edges, making every endpoint a source (no dangling mass)."""
    return edges.unionByName(
        edges.select(
            F.col("dst").alias("src"), F.col("src").alias("dst"), F.col("w")
        )
    )


def pagerank_multi(
    edges: DataFrame,
    variants: dict[str, DataFrame | None],
    iterations: int = 4,
    damping: float = 0.85,
    teleport: float = 0.15,
    partitions: int | None = None,
    checkpoint_every: int | None = None,
    cache_site: str = "graph.pagerank.edges",
    broadcast_max_nodes: int = 1_000_000,
    dangling: str = "contract",
) -> DataFrame:
    """``(node, <name>...)`` — one rank column per entry of ``variants``,
    all advanced through a SINGLE iteration loop over one cached edge
    relation.

    ``variants`` maps an output column name to a teleport seed set
    (``None`` = classic global PageRank; a ``node``-column DataFrame =
    personalized / TrustRank). Running k variants fused costs ONE
    join + ONE map-side-combined shuffle per iteration instead of k —
    the multiple-right-hand-sides trick for power iteration. Each
    column's arithmetic is elementwise identical to an independent run
    (the quantized decimal sums are per-column), so fused output is
    bit-for-bit equal to k separate ``pagerank`` calls.

    ``dangling`` picks the sink-node treatment:

    * ``'contract'`` (default) — the module's structural contract:
      every node of interest appears as a ``src``; nodes that only
      occur as ``dst`` silently leak their mass out of the system
      (undirected graphs satisfy the contract by construction).
    * ``'redistribute'`` — the textbook formulation: the node universe
      is ``src UNION dst``, and each iteration the total rank mass
      sitting on out-degree-0 nodes is redistributed over that
      variant's teleport distribution (uniform for global, the seed
      distribution for personalized), so total mass is conserved.
      Costs one extra O(|V|) aggregation per iteration (the dangling
      mass rides as a broadcast 1-row aggregate — no driver collect)
      plus a per-iteration lineage checkpoint (the mass term makes
      each iteration reference the previous ranks twice, which would
      otherwise double the plan per step). The dangling mass is
      floor-quantized to 1e-15 integer units and summed as
      DECIMAL(38,0), exactly like the edge contributions, so the
      result stays bit-reproducible across partitionings and engines.
    """
    if not variants:
        raise ValueError("pagerank_multi: variants must be non-empty")
    if dangling not in ("contract", "redistribute"):
        raise ValueError(
            f"pagerank_multi: dangling must be 'contract' or "
            f"'redistribute', got {dangling!r}"
        )
    redistribute = dangling == "redistribute"
    if checkpoint_every is None and iterations > 8:
        # deep runs accrue state the shallow default never sees: each
        # iteration's broadcast hint (small path) pins rank + sum
        # relations for the job lifetime, and the lazy plan grows one
        # join+agg layer per step. Truncating every 8 rounds
        # unreferences old broadcasts (ContextCleaner frees them) and
        # keeps re-planning cost flat; results are bit-identical
        # (pinned by test_pagerank_checkpoint_every_is_transparent).
        checkpoint_every = 8
    spark = edges.sparkSession
    n_part = partitions or spark.sparkContext.defaultParallelism
    names = list(variants)
    # The input edge lineage (typically a join + agg building the
    # graph) is the expensive part — persist it ONCE; out-weight agg,
    # normalization, and every iteration read the cache instead of
    # re-deriving it. Distinct cache_site per concurrent caller:
    # scoped_persist keeps ONE live cache per site, so two
    # pagerank_multi calls composed into the same merged plan must not
    # share a site (the second build would evict the first's cache
    # before it ever served a read).
    edges_c = scoped_persist(edges, cache_site + ".in")
    # out_w doubles as the node set: every node of interest appears as
    # a src (module contract), and a groupBy output is distinct by
    # construction — so |V| comes off this O(|V|) relation with no
    # second distinct-shuffle over the fat edge list. The count
    # materializes both caches and decides the join strategy below.
    out_w = scoped_persist(
        edges_c.groupBy("src").agg(F.sum("w").alias("ow")),
        cache_site + ".outw",
    )
    if redistribute:
        # full node universe: sources + pure sinks, flagged by whether
        # the node has any out-weight (one distinct over the cached
        # edges + a left join against the O(|V|) out-weight relation)
        universe = scoped_persist(
            edges_c.select(F.col("src").alias("node"))
            .unionByName(edges_c.select(F.col("dst").alias("node")))
            .distinct()
            .join(
                out_w.select(
                    F.col("src").alias("node"),
                    F.lit(False).alias("__dangling"),
                ),
                "node",
                "left",
            )
            .withColumn(
                "__dangling", F.coalesce(F.col("__dangling"), F.lit(True))
            ),
            cache_site + ".universe",
        )
        n = universe.count()
    else:
        n = out_w.count()
    # Ranks/out-weights are O(|V|) rows. Below the threshold,
    # broadcasting them makes edge normalization and the per-iteration
    # edge join map-side over the cached input — no second fat cache,
    # no repartition; the only shuffle per iteration is the
    # map-side-combined groupBy(dst). Past the threshold a normalized
    # edge relation is hash-partitioned by src once and cached, and
    # only the O(|V|) rank/sum relations shuffle per iteration. The
    # 1M-row default sizes the broadcast in bytes, not just rows:
    # (node id + k doubles) ~ 60-100 B/row => <= ~100 MB pinned per
    # broadcast, the practical ceiling for an explicit hint (each
    # iteration pins rank + sum broadcasts for the job's lifetime);
    # lower it for long node ids or many fused variants. Exactness is
    # unaffected either way: the per-dst sums are quantized-integer
    # decimals, associative under any join strategy or arrival order.
    small = n <= broadcast_max_nodes
    hint = F.broadcast if small else (lambda df: df)
    e = edges_c.join(hint(out_w), "src").select(
        "src",
        "dst",
        (F.col("w").cast("double") / F.col("ow").cast("double")).alias(
            "frac"
        ),
    )
    if not small:
        # explicit count: AQE coalesces a bare repartition(col) on
        # byte-small input to ONE partition, serializing per-row work
        e = scoped_persist(e.repartition(n_part, "src"), cache_site)
    # One eager pass: node set + every variant's seed flag, then a
    # single agg for each |S∩V| (replaces k driver jobs; each seed set
    # is a tiny curated list, hence the broadcast hint).
    if redistribute:
        nodes = universe
    else:
        nodes = out_w.select(F.col("src").alias("node"))
    seed_flags: dict[str, str] = {}
    for name, seeds in variants.items():
        if seeds is None:
            continue
        flag = f"__seed_{name}"
        nodes = nodes.join(
            F.broadcast(
                seeds.select("node").distinct().withColumn(flag, F.lit(True))
            ),
            "node",
            "left",
        ).withColumn(flag, F.coalesce(F.col(flag), F.lit(False)))
        seed_flags[name] = flag
    if seed_flags:
        nodes = scoped_persist(nodes, cache_site + ".nodes")
        counts = nodes.agg(
            *[
                F.sum(F.col(flag).cast("long")).alias(f"__ns_{name}")
                for name, flag in seed_flags.items()
            ],
        ).collect()[0]
    base: dict[str, F.Column] = {}
    dist: dict[str, F.Column] = {}
    r0: dict[str, F.Column] = {}
    for name, seeds in variants.items():
        if seeds is None:
            dist[name] = F.lit(1.0) / F.lit(float(n))
            base[name] = F.lit(teleport) / F.lit(float(n))
            r0[name] = F.lit(1.0) / F.lit(float(n))
            continue
        ns = counts[f"__ns_{name}"] or 0
        if ns == 0:
            raise ValueError(
                f"pagerank_multi[{name}]: no seed intersects the graph"
            )
        flag = seed_flags[name]
        denom = F.lit(float(ns))
        dist[name] = F.when(F.col(flag), F.lit(1.0) / denom).otherwise(
            F.lit(0.0)
        )
        base[name] = F.when(
            F.col(flag), F.lit(teleport) / denom
        ).otherwise(F.lit(0.0))
        r0[name] = F.when(F.col(flag), F.lit(1.0) / denom).otherwise(
            F.lit(0.0)
        )
    carry = ["__dangling"] if redistribute else []
    ranks = nodes.select("node", *carry, *[r0[k].alias(k) for k in names])
    for i in range(iterations):
        contribs = e.join(hint(ranks), e.src == ranks.node).select(
            F.col("dst"),
            *[
                F.floor(F.col(k) * F.col("frac") * F.lit(1e15))
                .cast("decimal(38,0)")
                .alias(f"__c_{k}")
                for k in names
            ],
        )
        sums = contribs.groupBy("dst").agg(
            *[F.sum(f"__c_{k}").alias(f"__s_{k}") for k in names]
        )
        if redistribute:
            # total mass currently on out-degree-0 nodes, per variant:
            # a broadcast 1-row aggregate in the same quantized integer
            # units as the edge contributions — each dangling node
            # redistributes rank * dist over the teleport distribution
            dm = ranks.filter(F.col("__dangling")).agg(
                *[
                    F.sum(
                        F.floor(F.col(k) * F.lit(1e15)).cast("decimal(38,0)")
                    ).alias(f"__dm_{k}")
                    for k in names
                ]
            )
            joined = nodes.join(
                hint(sums), nodes.node == sums.dst, "left"
            ).crossJoin(F.broadcast(dm))
            mass = {
                k: (
                    F.coalesce(F.col(f"__s_{k}").cast("double"), F.lit(0.0))
                    / F.lit(1e15)
                    + (
                        F.coalesce(
                            F.col(f"__dm_{k}").cast("double"), F.lit(0.0)
                        )
                        / F.lit(1e15)
                    )
                    * dist[k]
                )
                for k in names
            }
        else:
            joined = nodes.join(hint(sums), nodes.node == sums.dst, "left")
            mass = {
                k: F.coalesce(F.col(f"__s_{k}").cast("double"), F.lit(0.0))
                / F.lit(1e15)
                for k in names
            }
        ranks = joined.select(
            F.col("node"),
            *carry,
            *[
                (base[k] + F.lit(damping) * mass[k]).alias(k)
                for k in names
            ],
        )
        if redistribute:
            # the dangling-mass aggregate references the previous ranks
            # a second time; without truncation the plan doubles per
            # iteration (2^iters subtrees)
            ranks = ranks.localCheckpoint(eager=True)
        elif checkpoint_every and (i + 1) % checkpoint_every == 0:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks.select("node", *names)


def triangle_counts(
    edges: DataFrame, cache_site: str = "graph.triangles.oriented"
) -> DataFrame:
    """``(node, n_triangles)`` — exact per-node triangle counts via the
    degree-oriented node-iterator (Schank & Wagner 2005; the
    MapReduce/GraphX standard). Triangle density is a classic graph
    quality/cohesion signal (clustering coefficient numerator; spam
    link farms are triangle-poor relative to organic communities).

    Input is an undirected graph in any encoding — directed pairs,
    both-direction pairs, self-loops, duplicates all collapse through
    canonicalization (``least/greatest`` + distinct, self-loops
    dropped). Each edge is then ORIENTED from its lower (degree, node)
    endpoint to the higher, which (a) counts every triangle exactly
    once — for p < q < r in orientation order the wedge at p matches
    the oriented edge q->r — and (b) bounds each node's out-degree by
    O(sqrt(E)), so the wedge self-join is Θ(Σ outdeg²) ≤ Θ(E^1.5)
    instead of Θ(Σ deg²) (which a hub node makes quadratic). Three
    shuffles total: degree agg, wedge self-join on the apex, wedge
    (q, r) against the oriented edge list. All-integer, deterministic
    (degree ties break on the node id), exact cross-engine parity by
    construction.

    ``cache_site``: two CONCURRENT callers must not share a
    scoped_persist site (the second build would evict the first's
    oriented-edge cache mid-read — scoped_persist now fails loudly on
    that); pass a per-caller site when builds can overlap, as
    ``pagerank_multi`` callers already do.
    """
    e = (
        edges.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .filter(F.col("a") < F.col("b"))
        .distinct()
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionByName(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    ed = e.join(
        deg.select(F.col("node").alias("a"), F.col("deg").alias("da")), "a"
    ).join(
        deg.select(F.col("node").alias("b"), F.col("deg").alias("db")), "b"
    )
    first = (F.col("da") < F.col("db")) | (
        (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
    )
    o = ed.select(
        F.when(first, F.col("a")).otherwise(F.col("b")).alias("u"),
        F.when(first, F.col("b")).otherwise(F.col("a")).alias("v"),
    )
    o = scoped_persist(o, cache_site)
    wedges = (
        o.alias("o1")
        .join(
            o.alias("o2"),
            (F.col("o1.u") == F.col("o2.u"))
            & (F.col("o1.v") != F.col("o2.v")),
        )
        .select(
            F.col("o1.u").alias("p"),
            F.col("o1.v").alias("q"),
            F.col("o2.v").alias("r"),
        )
    )
    tri = wedges.join(
        o.select(F.col("u").alias("q"), F.col("v").alias("r")), ["q", "r"]
    )
    return (
        tri.select(F.col("p").alias("node"))
        .unionByName(tri.select(F.col("q").alias("node")))
        .unionByName(tri.select(F.col("r").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )


def kcore(edges: DataFrame, k: int, max_rounds: int = 100) -> DataFrame:
    """``(node)`` — the k-core of an undirected graph: the maximal
    subgraph where every node has degree >= k, by iterative peeling
    (remove sub-k nodes, recompute degrees, repeat to fixpoint). The
    dense-community extractor: link-farm detection (organic hubs
    survive deep cores, sprayed spam doesn't) and the standard
    preconditioner before expensive per-community analysis.

    Same canonicalization as ``triangle_counts`` (any edge encoding;
    self-loops dropped — a self-loop must not let a node survive on
    its own). Each round is one degree agg + two semi-joins over the
    shrinking edge set, localCheckpointed (components.py precedent:
    the loop's lineage must not re-derive). Converges in at most
    O(peeling-depth) rounds — bounded by the degeneracy ordering
    depth, small for real sparse graphs; ``max_rounds`` is a runaway
    backstop that raises rather than silently returning a non-core.

    Deterministic and exact: peeling has a unique fixpoint (the k-core
    is canonical regardless of removal order), so no tie-break is even
    needed.
    """
    e = (
        edges.select(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .filter(F.col("a") < F.col("b"))
        .distinct()
    )
    e = e.localCheckpoint(eager=True)
    n_prev = e.count()
    for _ in range(max_rounds):
        deg = (
            e.select(F.col("a").alias("node"))
            .unionByName(e.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("deg"))
        )
        keep = deg.filter(F.col("deg") >= k).select("node")
        nxt = e.join(
            keep.select(F.col("node").alias("a")), "a", "left_semi"
        ).join(keep.select(F.col("node").alias("b")), "b", "left_semi")
        # one JOB per round: the LAZY checkpoint's blocks materialize
        # inside the count action (an eager checkpoint ran its own job
        # first and the count a second — components.py precedent);
        # this round's count is next round's n_prev, and the next
        # round's four references to e read the cached blocks
        nxt = nxt.localCheckpoint(eager=False)
        n_next = nxt.count()
        e = nxt
        fixed = n_next == n_prev
        n_prev = n_next
        if fixed:
            return (
                e.select(F.col("a").alias("node"))
                .unionByName(e.select(F.col("b").alias("node")))
                .distinct()
            )
        if n_next == 0:
            return e.select(F.col("a").alias("node"))  # empty, right schema
    raise RuntimeError(
        f"kcore: no fixpoint within max_rounds={max_rounds} "
        "(raise the bound for pathological peeling depths)"
    )


def label_propagation(
    edges: DataFrame,
    seeds: DataFrame | None = None,
    iterations: int = 5,
    partitions: int | None = None,
) -> DataFrame:
    """``(node, label)`` after ``iterations`` rounds of synchronous
    weighted label propagation (Raghavan et al. 2007; the
    semi-supervised variant is Zhu-Ghahramani label spreading).

    Unseeded: every node starts labeled with itself and adopts the
    label with the max incoming weight each round — community
    detection for mixture balancing (near-dup families, host
    clusters). Seeded (``seeds`` = (node, label)): seed labels are
    CLAMPED and only unlabeled nodes update — propagating a small set
    of human topic/quality judgments through a link graph.

    Determinism (the property naive LPA lacks): ties on total incoming
    weight break to the LEXICALLY SMALLEST label, updates are
    synchronous (no arrival-order dependence), and the round count is
    fixed — identical output on every run and partitioning. A node
    with no in-edges keeps its current label.

    Per round: one equi-join of the cached edge relation against the
    O(|V|) label relation + one (dst, label) partial-agg shuffle + an
    argmax window keyed by dst — the same Pregel-on-DataFrames shape
    as ``pagerank_multi``; label state is localCheckpointed per round
    (components.py precedent). No float arithmetic anywhere (integer
    weight sums), so cross-engine parity is exact by construction.
    """
    from pyspark.sql.window import Window

    spark = edges.sparkSession
    n_part = partitions or spark.sparkContext.defaultParallelism
    w_type = dict(edges.dtypes).get("w", "")
    if w_type not in ("tinyint", "smallint", "int", "bigint", "long"):
        # the exactness story rests on integer tallies; silently
        # truncating float similarity weights would zero every tally
        # and pick labels purely lexically
        raise ValueError(
            f"label_propagation: integral edge weights required, got "
            f"w: {w_type} — quantize float weights upstream (e.g. "
            f"floor(sim * 1e6)), only weight RATIOS matter"
        )
    e = edges.select("src", "dst", F.col("w").cast("long").alias("w"))
    e = e.repartition(n_part, "src")
    e = e.localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    if seeds is not None:
        seeded = seeds.select(
            "node", F.col("label").alias("__seed_label")
        ).distinct()
        labels = nodes.join(F.broadcast(seeded), "node", "left").select(
            "node",
            F.coalesce(F.col("__seed_label"), F.col("node")).alias("label"),
            F.col("__seed_label").isNotNull().alias("__clamped"),
        )
    else:
        labels = nodes.select(
            "node", F.col("node").alias("label"), F.lit(False).alias("__clamped")
        )
    labels = labels.localCheckpoint(eager=True)
    w_pick = Window.partitionBy("dst").orderBy(
        F.desc("wsum"), F.asc("in_label")
    )
    for _ in range(iterations):
        tally = (
            e.join(labels, e.src == labels.node)
            .groupBy("dst", F.col("label").alias("in_label"))
            .agg(F.sum("w").alias("wsum"))
        )
        pick = (
            tally.withColumn("rn", F.row_number().over(w_pick))
            .filter(F.col("rn") == 1)
            .select(F.col("dst"), F.col("in_label"))
        )
        nxt = labels.join(pick, labels.node == pick.dst, "left").select(
            "node",
            F.when(
                F.col("__clamped") | F.col("in_label").isNull(),
                F.col("label"),
            )
            .otherwise(F.col("in_label"))
            .alias("label"),
            "__clamped",
        )
        labels = nxt.localCheckpoint(eager=True)
    return labels.select("node", "label")


def hyperball(
    edges: DataFrame,
    max_t: int = 6,
    lg_k: int = 12,
    partitions: int | None = None,
) -> DataFrame:
    """``(node, harmonic, reach)`` — approximate harmonic IN-centrality
    via HyperBall (Boldi & Vigna, "In-Core Computation of Geometric
    Centralities with HyperBall", 2013): the signal Common Crawl
    derivatives rank hosts by.

    ``harmonic(v) = Σ_{u≠v} 1/d(u,v)`` over nodes u that can REACH v
    (an in-link from u means u is at distance 1 — centrality accrues
    from being linked-to), truncated at radius ``max_t`` (fixed horizon
    = deterministic cost; 6 covers the effective diameter of social /
    web graphs). ``reach`` is the estimated in-ball size at the
    horizon.

    Exact all-pairs distances are Θ(V·E); HyperBall replaces each
    node's reached-set with a HyperLogLog counter so one round is ONE
    edge join + ONE sketch-union shuffle, and per-node state is the KB
    HLL register array — the same DataSketches HLL the engine's
    approx-distinct rollups use (Tungsten ``hll_*`` built-ins, no
    UDFs). ``|ball_t| − |ball_{t−1}|`` estimates the count at exactly
    distance t, each weighted 1/t.

    Estimates are deterministic (fixed murmur hashing, no RNG), and
    DataSketches HLL is EXACT in its small-set coupon mode — small
    graphs reproduce textbook harmonic centrality to the double, while
    web-scale counts degrade gracefully to ~1.04/sqrt(2^lg_k) relative
    error. Per iteration the ball relation is eagerly localCheckpointed
    (components.py precedent): sketch payloads must not re-derive
    through a growing lineage.

    Not SQL-twinnable (sketch internals) — verified in pytest against
    exact BFS (tests/test_graph.py), the driver records the weaker
    check class for sketch operators.
    """
    spark = edges.sparkSession
    n_part = partitions or spark.sparkContext.defaultParallelism
    e = edges.select("src", "dst").distinct()
    e = e.repartition(n_part, "src")
    e = e.localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("src").alias("node"))
        .unionByName(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    balls = nodes.groupBy("node").agg(
        F.hll_sketch_agg("node", lg_k).alias("ball")
    ).withColumn("est", F.lit(1.0)).withColumn("harmonic", F.lit(0.0))
    balls = balls.localCheckpoint(eager=True)
    for t in range(1, max_t + 1):
        grown = (
            e.join(balls, e.src == balls.node)
            .groupBy("dst")
            .agg(F.hll_union_agg("ball", True).alias("nb"))
        )
        nxt = (
            balls.join(grown, balls.node == grown.dst, "left")
            .select(
                "node",
                F.when(
                    F.col("nb").isNull(), F.col("ball")
                ).otherwise(F.hll_union("ball", "nb", True)).alias("ball"),
                "est",
                "harmonic",
            )
            .withColumn("new_est", F.hll_sketch_estimate("ball"))
            .select(
                "node",
                "ball",
                F.col("new_est").alias("est"),
                (
                    F.col("harmonic")
                    + F.greatest(
                        F.col("new_est") - F.col("est"), F.lit(0.0)
                    )
                    / F.lit(float(t))
                ).alias("harmonic"),
            )
        )
        balls = nxt.localCheckpoint(eager=True)
    # est counts v itself (seeded with {v}); reach excludes it
    return balls.select(
        "node",
        "harmonic",
        (F.col("est") - F.lit(1.0)).alias("reach"),
    )


def pagerank(
    edges: DataFrame,
    iterations: int = 4,
    damping: float = 0.85,
    teleport: float = 0.15,
    partitions: int | None = None,
    checkpoint_every: int | None = None,
    seeds: DataFrame | None = None,
    cache_site: str = "graph.pagerank.edges",
    dangling: str = "contract",
) -> DataFrame:
    """(node, rank) after ``iterations`` rounds of weighted PageRank.

    ``edges`` is ``(src, dst, w)`` with integral weights; ranks follow
    ``r'(v) = teleport/N + damping * Σ_{(u,v)} r(u) · w(u,v)/out_w(u)``.

    ``damping`` and ``teleport`` are taken as two independent literals
    (not ``1 - damping``) so an external SQL twin can spell the same
    decimal literals and land on the same doubles — ``1.0 - 0.85``
    evaluated in binary is NOT the double nearest 0.15.

    ``seeds`` (a ``node`` column) switches to PERSONALIZED PageRank —
    the TrustRank shape (Gyöngyi et al. 2004): teleport mass goes only
    to the seed set (intersected with the graph), so rank measures
    proximity-weighted trust flowing out of the seeds instead of global
    centrality. Initial rank is 1/|S| on seeds, 0 elsewhere; the
    update's base term is ``teleport/|S|`` for seeds, 0 otherwise.
    Same joins, same quantized-sum exactness.

    Single-variant convenience wrapper over ``pagerank_multi``.
    """
    return pagerank_multi(
        edges,
        {"rank": seeds},
        iterations=iterations,
        damping=damping,
        teleport=teleport,
        partitions=partitions,
        checkpoint_every=checkpoint_every,
        cache_site=cache_site,
        dangling=dangling,
    )
