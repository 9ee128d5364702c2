"""Deduplication operators for large-scale text pipelines.

Exact, MinHash+LSH, SimHash, and n-gram-Jaccard dedup, all as pure
DataFrame transforms built on codegen'd expressions (no Python UDFs).

Portability/determinism: hashes are md5 hex strings (or hex-digit
arithmetic on them), identical in every engine, so each stage is
DuckDB-oracle-checkable. xxhash64/murmur would be faster but
engine-specific; at 100 TB the md5 cost is still dominated by the
shuffle, and swapping the hash is a one-liner.

Scale design:
- shingling explodes rows map-side only; the single shuffle is the
  groupBy(doc_id) that folds k min-hashes in one pass;
- LSH banding turns the quadratic all-pairs problem into an equi-join
  on (band_idx, band_hash) — each bucket is tiny, so the join output
  stays near-linear;
- bucket skew is structural, not a data accident: a cluster of k
  near-identical docs puts k^2/2 pairs in ONE bucket whatever the
  band width, and AQE's skew-join split cannot help because it sizes
  partitions by INPUT bytes while a self-join's cost is its OUTPUT.
  blocked_self_join_pairs therefore tiles each bucket into fixed-size
  blocks and joins block-pairs, so pair generation parallelizes evenly
  regardless of cluster size (measured at sf1: the saturated 16-bit
  SimHash corpus went from ~5 straggler tasks pinning the stage to an
  even 32-way fan-out);
- the exact-Jaccard verify stage only runs on LSH candidates.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from travelpulse_spark_stream_tourism_analytics_spark.functions.text import (
    word_ngrams,
    words_of,
)


def shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingle set of a text column."""
    return F.array_distinct(word_ngrams(words_of(text), n))


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Hash-groupBy exact dedup: one shuffle on a 16-byte key."""
    return df.groupBy(F.md5(text_col).alias("text_hash")).agg(
        F.min(id_col).alias(f"keep_{id_col}"),
        F.count("*").alias("n_copies"),
    )


def substring_dup_spans(
    df: DataFrame, text_col: str, id_col: str, window_tokens: int = 8
) -> DataFrame:
    """Exact-SUBSTRING duplication report (the Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better" family:
    long verbatim spans repeated ACROSS documents — boilerplate,
    licenses, templated passages — that document-level dedup cannot
    see because the surrounding text differs).

    Every ``window_tokens``-token window of every document hashes to a
    16-byte key (distinct per doc — a span repeated within one doc is
    intra-doc repetition, the dup_3gram signal's job); windows shared
    by >= 2 documents come back as (text_hash, keep_<id>, n_copies =
    distinct docs carrying the span). Downstream removal is a semi-join
    of chunk hashes against this table. ``window_tokens`` is the scale
    knob — production uses ~50; the plan is identical: map-side window
    explode, one partial-agg shuffle on the hash, never pairwise.
    Repartitions on the id first (with an EXPLICIT partition count:
    AQE coalesces a bare repartition(col) back to one partition when
    the input is small by bytes — and the cost here is per-row
    compute, not bytes): the window build otherwise runs at the scan's
    layout-determined width (measured 3.8 s -> 0.7 s at sf0.1)."""
    n_part = df.sparkSession.sparkContext.defaultParallelism
    windows = df.repartition(n_part, F.col(id_col)).select(
        F.col(id_col),
        F.explode(
            F.array_distinct(word_ngrams(words_of(F.col(text_col)), window_tokens))
        ).alias("__w"),
    )
    return (
        windows.groupBy(F.md5("__w").alias("text_hash"))
        .agg(
            F.min(id_col).alias(f"keep_{id_col}"),
            F.countDistinct(id_col).alias("n_copies"),
        )
        .filter(F.col("n_copies") >= 2)
    )


def remove_dup_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    window_tokens: int = 8,
    min_copies: int = 2,
    spans: DataFrame | None = None,
) -> DataFrame:
    """The REMOVAL half of exact-substring dedup (Lee et al. 2022
    §4.1 ExactSubstr: "when two documents share a sufficiently long
    substring, remove it from all but one"): rewrite every document's
    token stream with its cross-document duplicated windows cut out,
    keeping exactly ONE occurrence globally — the first occurrence
    (lowest start) in the lowest-id document carrying the span, the
    same keeper convention as :func:`exact_dedup`'s ``keep_<id>``.

    Operates on the engine tokenization (``words_of``: lowercase,
    non-alnum splits) — the same stream :func:`substring_dup_spans`
    hashes — so the output ``text_dedup`` is the SPACE-JOINED deduped
    token stream, not a byte-offset cut of the original text (raw-byte
    surgery needs the original offsets, which a lossy tokenizer cannot
    return; production pipelines run the gate/chunk stages on this
    same token stream).

    A token is removed when ANY removal occurrence's window
    ``[start, start + window_tokens)`` covers it, so overlapping
    windows of a longer shared span union into one cut, and a window
    repeated within the keeper document keeps only its first
    occurrence. Documents with no duplicated spans pass through with
    zero tokens removed (still re-joined from their token stream, so
    the output column is uniform).

    Scale shape: the span table is :func:`substring_dup_spans`'s one
    partial-agg shuffle; occurrences are a map-side positional window
    explode joined to the span table on the 16-byte hash (equi-join,
    never pairwise); the per-document removal list folds back with one
    groupBy(id) whose payload is bounded by the document's own window
    count; the rebuild is pure array expressions. Output:
    ``(id, text_dedup, n_tokens, n_tokens_removed)``."""
    toks, removals = _dup_span_removals(
        df, text_col, id_col, window_tokens, min_copies,
        "remove_dup_spans", spans,
    )
    w = window_tokens
    starts = F.coalesce(F.col("__starts"), F.array().cast("array<int>"))

    def keep_filter(toks_col: Column) -> Column:
        return F.filter(
            F.transform(
                toks_col, lambda t, i: F.struct(t.alias("t"), i.alias("i"))
            ),
            lambda s: ~F.exists(
                starts,
                lambda st: (st <= s["i"]) & (s["i"] < st + F.lit(w)),
            ),
        )

    # Bind the filtered token array ONCE (singleton-array transform):
    # the projection below references it twice (rebuild + size), and
    # Catalyst neither CSEs inside HOF lambdas nor codegen-caches
    # CodegenFallback HOF subtrees, so the naive form runs the whole
    # per-token exists() filter twice per row.
    kept = F.transform(F.array(F.col("__toks")), keep_filter)[0]
    staged = toks.join(removals, id_col, "left").select(
        id_col,
        kept.alias("__kept"),
        F.size("__toks").cast("long").alias("n_tokens"),
    )
    return staged.select(
        id_col,
        F.array_join(
            F.transform("__kept", lambda s: s["t"]), " "
        ).alias("text_dedup"),
        "n_tokens",
        (F.col("n_tokens") - F.size("__kept")).cast("long").alias(
            "n_tokens_removed"
        ),
    )


def _dup_span_removals(
    df: DataFrame,
    text_col: str,
    id_col: str,
    window_tokens: int,
    min_copies: int,
    caller: str,
    spans: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Shared core of :func:`remove_dup_spans` /
    :func:`dup_span_token_mask`: returns ``(toks, removals)`` where
    ``toks`` is (id, __toks) — the engine token stream, repartitioned
    to cluster width before the window explode — and ``removals`` is
    (id, __starts): per document, the start positions of every
    duplicated-window occurrence that is NOT the global keeper (first
    occurrence in the lowest-id document carrying the span)."""
    if min_copies < 2:
        raise ValueError(
            f"{caller}: min_copies must be >= 2, got {min_copies}"
        )
    w = window_tokens
    keep_col = f"keep_{id_col}"
    # Honor a caller-precomputed span table (the documented sharing
    # contract for materializing removal + mask as separate actions:
    # precompute substring_dup_spans once, persist, pass it to both).
    # The min_copies filter applies either way, so a caller-supplied
    # unfiltered table behaves identically to the self-built one.
    if spans is None:
        spans = substring_dup_spans(df, text_col, id_col, w)
    spans = spans.filter(F.col("n_copies") >= min_copies)
    n_part = df.sparkSession.sparkContext.defaultParallelism
    toks = df.repartition(n_part, F.col(id_col)).select(
        F.col(id_col), words_of(F.col(text_col)).alias("__toks")
    )
    occ = toks.select(
        F.col(id_col),
        F.posexplode(word_ngrams(F.col("__toks"), w)).alias(
            "__start", "__win"
        ),
    ).select(id_col, "__start", F.md5("__win").alias("text_hash"))
    from pyspark.sql.window import Window

    rn = F.row_number().over(
        Window.partitionBy(id_col, "text_hash").orderBy("__start")
    )
    removals = (
        occ.join(spans, "text_hash")
        .withColumn("__rn", rn)
        # the global keeper occurrence survives: first occurrence in
        # the lowest-id document carrying the span
        .filter(
            ~((F.col(id_col) == F.col(keep_col)) & (F.col("__rn") == 1))
        )
        .groupBy(id_col)
        .agg(F.collect_list("__start").alias("__starts"))
    )
    return toks, removals


def dup_span_token_mask(
    df: DataFrame,
    text_col: str,
    id_col: str,
    window_tokens: int = 8,
    min_copies: int = 2,
    spans: DataFrame | None = None,
) -> DataFrame:
    """The LOSS-MASKING form of exact-substring dedup: instead of
    cutting duplicated spans out of the token stream
    (:func:`remove_dup_spans`), emit a per-token boolean ``mask``
    (True = token survives, False = token sits inside a removed
    duplicated-window occurrence). Training pipelines that keep
    document structure intact mask the loss on duplicated tokens
    rather than deleting them — same dedup decision, different
    delivery (the id/keeper/occurrence semantics are IDENTICAL to
    remove_dup_spans by construction: both derive from
    :func:`_dup_span_removals`, and the equivalence ``tokens kept by
    mask == remove_dup_spans.text_dedup`` is test-pinned).

    Output: ``(id, mask array<boolean>, n_tokens, n_tokens_masked)``
    with ``size(mask) == n_tokens`` (empty array for an empty/null
    token stream is an empty mask). Same scale shape as the removal
    form: one span-hash partial-agg shuffle, one positional-window
    equi-join, one groupBy(id) fold, mask built map-side with pure
    array expressions."""
    toks, removals = _dup_span_removals(
        df, text_col, id_col, window_tokens, min_copies,
        "dup_span_token_mask", spans,
    )
    w = window_tokens
    starts = F.coalesce(F.col("__starts"), F.array().cast("array<int>"))
    mask = F.transform(
        F.col("__toks"),
        lambda t, i: ~F.exists(
            starts,
            lambda st: (st <= i) & (i < st + F.lit(w)),
        ),
    )
    # two projections so the mask expression evaluates ONCE (the
    # pattern_matches lesson: re-referencing a non-cheap alias from the
    # same projection re-expands it; CollapseProject keeps the stage
    # boundary for a multiply-referenced expensive alias)
    staged = toks.join(removals, id_col, "left").select(
        id_col,
        mask.alias("mask"),
        F.size("__toks").cast("long").alias("n_tokens"),
    )
    return staged.select(
        id_col,
        "mask",
        "n_tokens",
        F.size(F.filter("mask", lambda b: ~b)).cast("long").alias(
            "n_tokens_masked"
        ),
    )


def exploded_shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, shingle) pairs; docs shorter than n words drop out.

    Repartitions on the id first: document corpora often arrive in a
    few large files, and without this the explode + k-hash compute runs
    on as many tasks as there are input splits. The partition count is
    EXPLICIT — AQE coalesces a bare repartition(col) to one partition
    when the input is small by bytes, re-serializing the compute-bound
    shingle build (round 4; the same lesson as blocked pair cells)."""
    n_part = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n_part, F.col(id_col)).select(
        F.col(id_col), F.explode(shingles(F.col(text_col), n)).alias("shingle")
    )


def minhash_signatures(
    shingled: DataFrame, id_col: str, k: int = 12
) -> DataFrame:
    """k-permutation MinHash via seeded md5: sig_i = min(md5('i:'||s)).

    One groupBy computes all k minima in a single shuffle pass
    (map-side partial min per hash function).
    """
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}:"), F.col("shingle")))).alias(f"h{i}")
        for i in range(k)
    ]
    return shingled.groupBy(id_col).agg(*aggs)


def lsh_bands(sigs: DataFrame, id_col: str, bands: int, rows: int) -> DataFrame:
    """Fold the signature into `bands` bucket keys of `rows` hashes each."""
    band_structs = [
        F.struct(
            F.lit(b).alias("band_idx"),
            F.md5(
                F.concat_ws("|", *[F.col(f"h{b * rows + r}") for r in range(rows)])
            ).alias("band_hash"),
        )
        for b in range(bands)
    ]
    return sigs.select(
        F.col(id_col),
        F.explode(F.array(*band_structs)).alias("band"),
    ).select(id_col, "band.band_idx", "band.band_hash")


def blocked_self_join_pairs(
    df: DataFrame,
    key_cols: list[str],
    id_col: str,
    payload_cols: tuple[str, ...] = (),
    block_rows: int = 256,
) -> DataFrame:
    """All unordered in-group pairs (id_a < id_b), generated with even
    parallelism regardless of group-size skew.

    A plain self-join on the group key puts a k-row group's k^2/2
    pairs in ONE task, and AQE's skew split cannot rescue it (it sizes
    partitions by input bytes; the cost here is output rows). This
    operator tiles each group into ceil(k / block_rows) blocks by id
    hash and emits each block-PAIR cell (i <= j) as a separate join
    key: a row in block b joins left-side into cells (b, j>=b) and
    right-side into cells (i<=b, b), so every unordered pair lands in
    exactly one cell and no task handles more than ~block_rows^2
    pairs. Replication cost is 2k*ceil(k/block_rows) rows per group —
    linear in the OUTPUT it parallelizes, and zero extra for groups
    that fit one block.

    The input feeds both the group-size aggregation and the join, so
    its lineage evaluates more than once. Measured, that is the right
    trade here: an eager localCheckpoint of the input was tried and
    REJECTED — it pinned executor storage (breaking the engine's
    bounded-cache contract, test_pair_jaccard_cache_is_bounded) and
    was slower at every scale tried (16 s vs 3.5 s at sf0.1 for the
    minhash query) because the materialization costs more than the
    re-evaluated map-side lineage. At cluster scale, materialize
    signatures to parquet BETWEEN pipeline stages instead (module
    docstring)."""
    n_part = df.sparkSession.sparkContext.defaultParallelism
    sizes = df.groupBy(*key_cols).agg(F.count("*").alias("__n"))
    base = df.join(sizes, list(key_cols))
    n_blocks = F.greatest(
        F.lit(1), F.ceil(F.col("__n") / F.lit(block_rows))
    ).cast("int")
    base = (
        base.withColumn("__nb", n_blocks)
        .withColumn(
            "__blk",
            F.pmod(F.xxhash64(F.col(id_col)), F.col("__nb")).cast("int"),
        )
        .repartition(n_part, *key_cols)
    )
    left = base.select(
        *key_cols,
        F.col(id_col).alias("id_a"),
        *[F.col(c).alias(f"{c}_a") for c in payload_cols],
        F.col("__blk").alias("__i"),
        F.explode(
            F.sequence(F.col("__blk"), F.col("__nb") - 1)
        ).alias("__j"),
    )
    right = base.select(
        *key_cols,
        F.col(id_col).alias("id_b"),
        *[F.col(c).alias(f"{c}_b") for c in payload_cols],
        F.explode(F.sequence(F.lit(0), F.col("__blk"))).alias("__i"),
        F.col("__blk").alias("__j"),
    )
    # The join's own exchanges must ALSO carry explicit partition
    # counts: their input is small (replicated block tags, ~MBs) so
    # AQE would coalesce them to a couple of partitions and the
    # explosion would serialize one level deeper. shuffle_hash beats
    # sort-merge here — every cell is a dense many-to-many match, and
    # SMJ's duplicate-group buffering is pure overhead on top of it.
    cell_keys = list(key_cols) + ["__i", "__j"]
    left = left.repartition(n_part, *cell_keys)
    right = right.repartition(n_part, *cell_keys)
    # Diagonal cells (i == j) see both orientations of a pair — keep
    # id_a < id_b. Off-diagonal cells see exactly ONE orientation,
    # fixed by block placement (not by id!), so they must keep every
    # row and canonicalize by swapping the sides where id_a > id_b.
    joined = left.join(right.hint("shuffle_hash"), cell_keys).filter(
        (F.col("__i") != F.col("__j")) | (F.col("id_a") < F.col("id_b"))
    )
    swap = F.col("id_a") > F.col("id_b")

    def canon(a_name: str, b_name: str, out: str):
        return F.when(swap, F.col(b_name)).otherwise(F.col(a_name)).alias(out)

    return joined.select(
        *key_cols,
        canon("id_a", "id_b", "id_a"),
        canon("id_b", "id_a", "id_b"),
        *[
            c
            for p in payload_cols
            for c in (
                canon(f"{p}_a", f"{p}_b", f"{p}_a"),
                canon(f"{p}_b", f"{p}_a", f"{p}_b"),
            )
        ],
    )


def blocked_join_pairs(
    left: DataFrame,
    right: DataFrame,
    key_cols: list[str],
    block_rows: int = 256,
) -> DataFrame:
    """Bipartite sibling of :func:`blocked_self_join_pairs`: every
    (left row, right row) combination within a key group, generated
    with even parallelism under group-size skew. Left rows block by
    ``__lid`` hash and fan out over the right side's block count (and
    vice versa), so each (left-block, right-block) cell is its own
    join key bounded at ~block_rows^2 output rows.

    Contract: ``left`` carries columns ``key_cols + [__lid, ...]`` and
    ``right`` carries ``key_cols + [__rid, ...]``; all non-key columns
    must be distinct between the sides (alias before calling). Returns
    the joined relation with both sides' columns."""
    n_part = left.sparkSession.sparkContext.defaultParallelism
    keys = list(key_cols)
    l_sizes = left.groupBy(*keys).agg(F.count("*").alias("__ln"))
    r_sizes = right.groupBy(*keys).agg(F.count("*").alias("__rn"))
    sizes = l_sizes.join(r_sizes, keys)
    nb = lambda c: F.greatest(F.lit(1), F.ceil(F.col(c) / F.lit(block_rows))).cast("int")  # noqa: E731
    l = (
        left.join(sizes, keys)
        .withColumn("__nbl", nb("__ln"))
        .withColumn("__nbr", nb("__rn"))
        .withColumn("__i", F.pmod(F.xxhash64(F.col("__lid")), F.col("__nbl")).cast("int"))
        .withColumn("__j", F.explode(F.sequence(F.lit(0), F.col("__nbr") - 1)))
        .drop("__ln", "__rn", "__nbl", "__nbr")
    )
    r = (
        right.join(sizes, keys)
        .withColumn("__nbl", nb("__ln"))
        .withColumn("__nbr", nb("__rn"))
        .withColumn("__j", F.pmod(F.xxhash64(F.col("__rid")), F.col("__nbr")).cast("int"))
        .withColumn("__i", F.explode(F.sequence(F.lit(0), F.col("__nbl") - 1)))
        .drop("__ln", "__rn", "__nbl", "__nbr")
    )
    cell_keys = keys + ["__i", "__j"]
    l = l.repartition(n_part, *cell_keys)
    r = r.repartition(n_part, *cell_keys)
    return l.join(r.hint("shuffle_hash"), cell_keys).drop("__i", "__j")


def lsh_candidate_pairs(bands_df: DataFrame, id_col: str) -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing any band bucket.

    The bands relation is repartitioned on the join key before the
    self-join: both sides then hang off ONE exchange and Spark's
    ReusedExchange reads the shuffle files twice instead of executing
    the shingle->minhash lineage twice (measured ~2x wall-clock at
    sf0.1 without it). Unlike persist() this pins no executor storage
    and needs no caller-side unpersist (ADVICE r1); at cluster scale
    you would materialize signatures to parquet between stages for the
    same reason.

    Stage reuse requires AQE (``spark.sql.adaptive.enabled=true``, the
    engine session default — ``session.py`` sets it and
    ``tests/test_plans.py`` pins ``isFinalPlan`` in the physical plan).
    With AQE off, the shingle->minhash lineage executes once per join
    side: still correct, ~2x slower (ADVICE r2).

    Pair generation goes through blocked_self_join_pairs so a cluster
    of near-identical documents (one giant bucket) fans out over the
    cluster instead of pinning one task."""
    return (
        blocked_self_join_pairs(bands_df, ["band_idx", "band_hash"], id_col)
        .select("id_a", "id_b")
        .distinct()
    )


def pair_jaccard(
    pairs: DataFrame, shingled: DataFrame, id_col: str
) -> DataFrame:
    """N-gram Jaccard for candidate pairs (verify stage), exact modulo
    64-bit hash collisions.

    Joins each side's shingle set on ``xxhash64(shingle)``; |A∩B| from
    the matched rows, |A∪B| = |A|+|B|-|A∩B|. Runs only on LSH
    candidates, so the join fan-out is bounded by bucket sizes, not
    the corpus.

    A pair's score can be wrong only if two distinct shingles of
    A ∪ B share a hash: probability at most C(|A|+|B|, 2) / 2^64 per
    pair, about 1e-13 for two 1,000-shingle documents. Across a corpus
    of n distinct shingles the expected number of colliding shingle
    pairs is about n^2 / 2^65: ~7e-7 at 5M, but ~2.7e4 at 1e12, where
    some collision is certain and only the per-pair bound still holds.
    """
    # The shingle relation feeds four consumers below (two joins, two
    # size lookups). Bounded scoped persist is the measured optimum at
    # sf0.1: no materialization -> 4x lineage recomputation (~15x
    # slower); a forced co-partitioning shuffle -> the widest relation
    # in the pipeline crosses the wire (~8x slower). On a cluster this
    # stage would materialize signatures/shingles to parquet; locally
    # scoped_persist is that stage boundary, without the r1
    # unbounded-cache leak (ADVICE).
    #
    # The intersection join carries xxhash64(shingle) — a 64-bit long —
    # instead of the raw n-gram string (round 11, guide §2.3 "shuffle
    # fewer bytes"): the pair fan-out (|pairs| x |shingles(a)| rows —
    # 166M rows at the sf1 soak) is shuffle-byte-bound, so the ~20-byte
    # string column made the verify stage core-count-INSENSITIVE
    # (measured 21.8 s at 32 cores vs 23.4 s at 8). The long key cuts
    # the fat column ~2.5x and the stage to 16.7-17.1 s at 32 cores
    # (1.3x); the residual core-insensitivity is local-mode shuffle
    # I/O, which shares one disk at any core count (a cluster's
    # shuffle bandwidth scales with nodes). Same narrow-join-key
    # convention as exact dedup's md5(text) and decontamination's
    # md5(ngram); a collision (probability ~|distinct shingles|^2 /
    # 2^64 — ~1e-6 even at 5M distinct shingles, far beyond any
    # fixture) would overcount one intersection — verified
    # collision-free on every fixture SF and the sf1 soak corpus
    # (distinct shingles == distinct hashes, 16k-36k per corpus).
    from travelpulse_spark_stream_tourism_analytics_spark.operators._cache import (
        scoped_persist,
    )

    hashed = scoped_persist(
        shingled.select(
            F.col(id_col), F.xxhash64("shingle").alias("__sh")
        ),
        "dedup.pair_jaccard.shingled",
    )
    sizes = hashed.groupBy(id_col).agg(F.count("*").alias("n_shingles"))
    # NOT hinted shuffle_hash: a strategy hint suppresses the
    # broadcast join Spark picks when the shingle relation is small
    # (measured +1.4 s on curate at sf0.1); instead the session's AQE
    # maxShuffledHashJoinLocalMapThreshold rewrites the sort-merge to
    # shuffled-hash at runtime exactly when the build side's actual
    # partitions are small — at sf1 that skips sorting the 166M-row
    # fan-out (21.8 -> ~11 s at 32 cores) while sf0.1 keeps its
    # broadcast.
    sa = hashed.select(F.col(id_col).alias("id_a"), "__sh")
    sb = hashed.select(F.col(id_col).alias("id_b"), "__sh")
    inter = (
        pairs.join(sa, "id_a")
        .join(sb, ["id_b", "__sh"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_inter"))
    )
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("n_shingles").alias("n_a"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_shingles").alias("n_b"))
    return (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(
                F.col("n_inter")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")).cast("double"),
                6,
            ).alias("jaccard"),
        )
    )


def simhash16(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """16-bit SimHash over distinct word unigrams.

    Bit j of a word = parity of hex digit j of md5(word); document bit
    j is set when more than half the words have it set. Pure
    conv/substring arithmetic — portable and codegen'd.
    """
    w = df.repartition(F.col(id_col)).select(
        F.col(id_col), F.explode(F.array_distinct(words_of(F.col(text_col)))).alias("w")
    )
    h = F.md5("w")
    bit_sums = [
        F.sum(F.conv(F.substring(h, j + 1, 1), 16, 10).cast("int") % 2).alias(
            f"s{j}"
        )
        for j in range(16)
    ]
    agg = w.groupBy(id_col).agg(F.count("*").alias("n_words"), *bit_sums)
    simhash = None
    for j in range(16):
        bit = F.when(F.col(f"s{j}") * 2 > F.col("n_words"), F.lit(1 << j)).otherwise(
            F.lit(0)
        )
        simhash = bit if simhash is None else simhash + bit
    return agg.select(F.col(id_col), simhash.cast("long").alias("simhash"))


def simhash16_expr(distinct_words: Column) -> Column:
    """16-bit SimHash as a pure array expression over a distinct-word
    array column — the single-pass form for wide profile projections:
    no explode, no groupBy, no join-back, so SimHash rides along a
    single scan with the other per-document features. Identical bit
    semantics to :func:`simhash16` (parity of hex digit j of
    md5(word), majority vote); an empty word set hashes to 0.
    """
    # Single aggregate pass: fold per-word 16-digit parity vectors into
    # one bit-sum array (16 separate size(filter(...)) scans measured
    # ~1.6x slower at sf0.1). A hex digit is odd iff it is in
    # '13579bdf' — same predicate as conv(d,16,10) % 2 without the
    # base-conversion cost. NOTE: any lambda here must be 1-arg; a
    # 2-arg lambda is treated by the HOFs as (element, index).
    odd_digits = list("13579bdf")

    def parities(h: Column) -> Column:
        return F.array(
            *[
                F.when(F.substring(h, j + 1, 1).isin(*odd_digits), 1).otherwise(0)
                for j in range(16)
            ]
        )

    md5s = F.transform(distinct_words, lambda w: F.md5(w))
    bit_sums_expr = F.aggregate(
        md5s,
        F.lit([0] * 16),
        lambda acc, h: F.zip_with(acc, parities(h), lambda a, p: a + p),
    )

    # bind the fold ONCE: the majority vote references it 16 times and
    # codegen subexpression elimination does not fully cache the
    # CodegenFallback HOF subtree (measured 0.77 -> 0.62 s at sf0.1;
    # the pattern_matches lesson, bit-identical output)
    def majority_vote(bit_sums: Column) -> Column:
        n = F.size(distinct_words)
        sim: Column = F.lit(0)
        for j in range(16):
            sim = sim + F.when(
                F.element_at(bit_sums, j + 1) * 2 > n, F.lit(1 << j)
            ).otherwise(F.lit(0))
        return sim.cast("long")

    return F.transform(F.array(bit_sums_expr), majority_vote)[0]


def simhash64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash over distinct word unigrams using xxhash64 — the
    production-scale fingerprint. 2^64 hash space keeps banded buckets
    fine-grained at any corpus size (4 bands of 16 bits ≈ 262k keys per
    band), where the 16-bit portable variant saturates. xxhash64 is
    JVM-side but Spark-specific, so this path is pytest-checked against
    the brute-force Hamming definition rather than DuckDB-oracled.
    """
    w = df.repartition(F.col(id_col)).select(
        F.col(id_col),
        F.explode(F.array_distinct(words_of(F.col(text_col)))).alias("w"),
    )
    # The 64 per-bit sums and the 64-term majority OR-chain are
    # rendered as SQL text parsed in O(few) py4j round trips instead
    # of ~900 Column-API calls (round 10 — the plan-constant
    # _cell_struct_array_sql lesson; DataFrame CONSTRUCTION was 1.6 s
    # of pure driver socket chatter per call). All-integer ops, so the
    # parsed expressions are bit-identical to the Column-built ones
    # (sum((h >> j) & 1) per bit; case-when majority, left-associated
    # |), pinned by the brute-force Hamming parity tests.
    bit_sums = [
        F.expr(f"sum((shiftright(xxhash64(w), {j}) & 1))").alias(f"s{j}")
        for j in range(64)
    ]
    agg = w.groupBy(id_col).agg(F.count("*").alias("n_words"), *bit_sums)
    simhash = F.expr(
        " | ".join(
            f"shiftleft(cast((case when (s{j} * 2) > n_words then 1 "
            f"else 0 end) as bigint), {j})"
            for j in range(64)
        )
    )
    return agg.select(F.col(id_col), simhash.alias("simhash"))


def simhash64_expr(distinct_words: Column) -> Column:
    """64-bit SimHash as a pure array expression over a distinct-word
    array column — the stateless-projection form of :func:`simhash64`
    (identical bit semantics: xxhash64 per word, per-bit majority
    vote), for streams and wide single-scan profiles where an
    explode + groupBy is unavailable or unwanted. One aggregate pass
    folds per-word 64-entry bit vectors into a bit-sum array; an empty
    word set hashes to 0. NOTE: arithmetic shiftright on the signed
    xxhash64 value is correct here — ``(h >> j) & 1`` extracts bit j
    regardless of sign, including j = 63.
    """
    hashes = F.transform(distinct_words, lambda w: F.xxhash64(w))

    def parities(h: Column) -> Column:
        return F.array(
            *[
                F.shiftright(h, j).bitwiseAND(F.lit(1)).cast("int")
                for j in range(64)
            ]
        )

    bit_sums_expr = F.aggregate(
        hashes,
        F.lit([0] * 64),
        lambda acc, h: F.zip_with(acc, parities(h), lambda a, p: a + p),
    )

    # bind the fold ONCE: 64 references from the majority vote, and
    # codegen subexpression elimination does not fully cache the
    # CodegenFallback HOF subtree (measured 1.37 -> 0.81 s at sf0.1;
    # bit-identical output — the pattern_matches lesson)
    def majority_vote(bit_sums: Column) -> Column:
        n = F.size(distinct_words)
        sim: Column = F.lit(0).cast("long")
        for j in range(64):
            sim = sim.bitwiseOR(
                F.shiftleft(
                    F.when(F.element_at(bit_sums, j + 1) * 2 > n, F.lit(1))
                    .otherwise(F.lit(0))
                    .cast("long"),
                    j,
                )
            )
        return sim

    return F.transform(F.array(bit_sums_expr), majority_vote)[0]


def simhash_neardup_pairs(
    sims: DataFrame,
    id_col: str,
    max_hamming: int = 3,
    bits: int = 16,
    n_bands: int | None = None,
) -> DataFrame:
    """EXACT near-dup pairs by SimHash Hamming distance, via banded
    pigeonhole.

    The b-bit hash splits into ``n_bands`` contiguous bit bands with
    ``n_bands > max_hamming`` (default ``max_hamming + 1``): a pair
    within Hamming ``max_hamming`` cannot have a differing bit in
    every band, so it agrees EXACTLY on at least one band and the
    union of per-band equi-joins has full recall; the exact
    ``bit_count`` filter restores precision. (Two byte-halves would
    NOT be exact for max_hamming=3 — a 2+1 bit split defeats both
    halves; exactness needs more bands than differing bits.)

    Scale: each row expands to ``n_bands`` (band_idx, band_value) keys
    — the same banded equi-join shape as MinHash-LSH, never an
    all-pairs stage. Bucket cardinality is ``n_bands * 2^(bits /
    n_bands)``, so the 16-bit oracle-checkable hash yields 64 keys —
    fine for fixture corpora, a skew magnet at 100 TB. At scale use a
    wider fingerprint (``bits=64`` over xxhash64 word hashes: 4 bands
    of 16 bits -> ~262k keys per band) — same operator, one parameter;
    the 16-bit md5-parity variant exists because it is portable enough
    to hash-check against DuckDB.
    """
    if n_bands is None:
        n_bands = max_hamming + 1
    if n_bands <= max_hamming:
        raise ValueError(
            f"n_bands={n_bands} must exceed max_hamming={max_hamming} "
            "for exact pigeonhole recall"
        )
    band_bits = bits // n_bands
    if band_bits * n_bands != bits:
        raise ValueError(f"bits={bits} not divisible by n_bands={n_bands}")
    mask = (1 << band_bits) - 1

    banded = sims.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.shiftright("simhash", b * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_val"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select(id_col, "simhash", "band.band_idx", "band.band_val")
    # blocked_self_join_pairs repartitions once on the band key (the
    # simhash lineage runs once, ReusedExchange, nothing persists) and
    # tiles oversized buckets into block-pair cells: on a SATURATED
    # corpus — 16-bit hash over ~50k docs, where hash concentration
    # makes the pair set itself quadratic (~5.8e8 true pairs at sf1) —
    # pair generation still fans out evenly instead of pinning a
    # handful of tasks.
    pairs = blocked_self_join_pairs(
        banded, ["band_idx", "band_val"], id_col, ("simhash",)
    )
    # Multi-band dedup WITHOUT a distinct(): a pair agreeing on k
    # bands would appear k times, but each copy knows both full
    # fingerprints, so every copy except the one from the LOWEST
    # agreeing band drops via a per-row expression. On the saturated
    # sf1 corpus this replaces a 1.16e9-row distinct shuffle (measured
    # 241 s alone; 387 s for the old stage end-to-end) with codegen'd
    # bit math: the whole pair stage drops to ~17 s.
    def band_of(col: str, m: int) -> Column:
        return F.shiftright(F.col(col), m * band_bits).bitwiseAND(F.lit(mask))

    lower_band_agrees = F.lit(False)
    for m in range(n_bands - 1):
        lower_band_agrees = lower_band_agrees | (
            (F.col("band_idx") > m)
            & (band_of("simhash_a", m) == band_of("simhash_b", m))
        )
    hamming = F.bit_count(F.col("simhash_a").bitwiseXOR(F.col("simhash_b")))
    return (
        pairs.filter(~lower_band_agrees)
        .select("id_a", "id_b", hamming.cast("long").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
    )


def _simhash_bands(
    sims: DataFrame, id_col: str, bits: int, n_bands: int
) -> DataFrame:
    """(id, simhash, band_idx, band_val) — the banded pigeonhole
    explode shared by the incremental path."""
    band_bits = bits // n_bands
    if band_bits * n_bands != bits:
        raise ValueError(f"bits={bits} not divisible by n_bands={n_bands}")
    mask = (1 << band_bits) - 1
    return sims.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_idx"),
                        F.shiftright("simhash", b * band_bits)
                        .bitwiseAND(F.lit(mask))
                        .alias("band_val"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select(id_col, "simhash", "band.band_idx", "band.band_val")


def incremental_simhash_neardups(
    new_sims: DataFrame,
    index: DataFrame | None,
    id_col: str = "doc_id",
    max_hamming: int = 3,
    bits: int = 64,
    n_bands: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Incremental BATCH near-dup detection: dedupe a NEW ingest batch
    against the persisted fingerprint INDEX of everything already
    accepted — the daily "new crawl vs historical corpus" workflow
    between the one-shot batch operator (whole corpus in hand) and the
    streaming stateful index (per-record arrival).

    ``new_sims`` / ``index`` are (id, simhash) relations (the index is
    what a pipeline persists as parquet between ingests — fingerprints
    only, never text). Ids must be globally increasing across batches
    (index ids < new ids), the same arrival-order contract as the
    streaming operator. Returns ``(verdicts, updated_index)``:
    verdicts = one row per NEW doc (id, is_dup, dup_of) with dup_of
    the smallest matching id across index ∪ earlier-new docs;
    updated_index = index ∪ new fingerprints, ready to persist.

    PARITY CONTRACT (pinned in tests): verdicts equal the whole-corpus
    ``simhash_neardup_pairs(index ∪ new)`` restricted to pairs whose
    larger id is new — so chaining incremental ingests is exactly the
    batch op run once at the end.

    Scale shape: new-vs-new runs the standard banded self-join (skew
    tiled); new-vs-index is a banded BIPARTITE equi-join through
    blocked_join_pairs (per-cell output bounded under bucket skew),
    with the same lowest-agreeing-band per-row dedup — cost scales
    with the NEW batch's bucket footprint, never with a rescan of the
    historical corpus text."""
    if n_bands is None:
        n_bands = max_hamming + 1
    if n_bands <= max_hamming:
        raise ValueError(
            f"n_bands={n_bands} must exceed max_hamming={max_hamming} "
            "for exact pigeonhole recall"
        )
    band_bits = bits // n_bands
    mask = (1 << band_bits) - 1

    # new-vs-new: earliest earlier match within the batch.
    intra = (
        simhash_neardup_pairs(
            new_sims, id_col, max_hamming=max_hamming, bits=bits,
            n_bands=n_bands,
        )
        .groupBy(F.col("id_b").alias(id_col))
        .agg(F.min("id_a").alias("__dup_new"))
    )

    combined = intra
    if index is not None:
        lhs = _simhash_bands(new_sims, id_col, bits, n_bands).select(
            F.col(id_col).alias("__lid"),
            F.col("simhash").alias("__fp_new"),
            "band_idx",
            "band_val",
        )
        rhs = _simhash_bands(index, id_col, bits, n_bands).select(
            F.col(id_col).alias("__rid"),
            F.col("simhash").alias("__fp_old"),
            "band_idx",
            "band_val",
        )
        joined = blocked_join_pairs(lhs, rhs, ["band_idx", "band_val"])

        def band_of(col: str, m: int) -> Column:
            return F.shiftright(F.col(col), m * band_bits).bitwiseAND(
                F.lit(mask)
            )

        lower_band_agrees = F.lit(False)
        for m in range(n_bands - 1):
            lower_band_agrees = lower_band_agrees | (
                (F.col("band_idx") > m)
                & (band_of("__fp_new", m) == band_of("__fp_old", m))
            )
        vs_index = (
            joined.filter(~lower_band_agrees)
            .filter(
                F.bit_count(
                    F.col("__fp_new").bitwiseXOR(F.col("__fp_old"))
                )
                <= max_hamming
            )
            .groupBy(F.col("__lid").alias(id_col))
            .agg(F.min("__rid").alias("__dup_old"))
        )
        combined = intra.join(vs_index, id_col, "full_outer")
    else:
        combined = intra.withColumn("__dup_old", F.lit(None).cast("long"))

    dup_of = F.least(F.col("__dup_old"), F.col("__dup_new"))
    verdicts = (
        new_sims.select(id_col)
        .join(combined, id_col, "left")
        .select(
            id_col,
            dup_of.isNotNull().alias("is_dup"),
            dup_of.alias("dup_of"),
        )
    )
    updated = (
        new_sims.select(id_col, "simhash")
        if index is None
        else index.select(id_col, "simhash").unionByName(
            new_sims.select(id_col, "simhash")
        )
    )
    return verdicts, updated
