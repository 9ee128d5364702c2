"""Text / embedding pipeline catalog (documents, embeddings tables).

The LLM-training-data operators the engine adds beyond the reference
(BASELINE.json north star): dedup, fingerprinting, token/quality
analysis, similarity search. All portable-hash logic uses md5 hex
strings (identical in Spark and DuckDB) rather than engine-specific
hash functions, so every step is oracle-checkable.

Scale notes: shingling explodes rows but never shuffles until the
group-by on (hash) — partial aggregation keeps the shuffle small;
brute-force kNN broadcasts only the query set (bounded), streaming the
corpus side; the LSH variants in operators/dedup.py bucket first so the
pairwise stage is per-bucket local.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from travelpulse_spark_stream_tourism_analytics_spark.functions.text import (
    PII_PATTERNS,
    line_repetition,
    ngram_repetition_masses,
    pii_count,
    registrable_domain,
    word_ngrams,
    words_of,
)
from travelpulse_spark_stream_tourism_analytics_spark.operators import (
    dedup,
    multimodal,
    similarity,
)
from travelpulse_spark_stream_tourism_analytics_spark.operators._cache import (
    scoped_persist,
)
from travelpulse_spark_stream_tourism_analytics_spark.plans.catalog import (
    build_arms,
    load_table,
    query,
    repair_coarse_scan,
)

# DuckDB mirrors of words_of / word_ngrams(3)
_WORDS_SQL = "list_filter(string_split_regex(lower({c}), '[^a-z0-9]+'), x -> x <> '')"
_NGRAMS3_SQL = (
    "list_transform(generate_series(1, greatest(len({w}) - 2, 0)),"
    " i -> array_to_string({w}[i:i+2], ' '))"
)


@query(
    "docs_exact_dedup",
    oracle=f"""
    SELECT 'doc' AS branch, md5(text) AS text_hash,
           min(doc_id) AS keep_doc_id,
           count(*) AS n_copies
    FROM documents
    GROUP BY 2
    UNION ALL
    -- Exact-substring duplication (round 4, Lee et al. 2022 shape):
    -- 8-token windows shared verbatim by >= 2 documents.
    SELECT 'substring' AS branch, md5(w) AS text_hash,
           min(doc_id) AS keep_doc_id,
           count(DISTINCT doc_id) AS n_copies
    FROM (
        SELECT doc_id, unnest(list_distinct(
            list_transform(
                generate_series(1, greatest(len(toks) - 7, 0)),
                i -> array_to_string(toks[i:i+7], ' ')))) AS w
        FROM (
            SELECT doc_id, {_WORDS_SQL.format(c="text")} AS toks
            FROM documents
        )
    )
    GROUP BY 2
    HAVING count(DISTINCT doc_id) >= 2
    UNION ALL
    -- Exact-substring REMOVAL (round 10, dedup.remove_dup_spans —
    -- the Lee et al. ExactSubstr action half): every document's token
    -- stream rewritten with cross-doc duplicated 8-token windows cut,
    -- keeper = first occurrence in the lowest-id document. Column
    -- coding: text_hash = md5 of the ENTIRE rebuilt token stream
    -- (hash-checks every kept token of every doc), keep_doc_id = the
    -- doc, n_copies = tokens removed.
    SELECT 'despan' AS branch, md5(text_dedup) AS text_hash,
           doc_id AS keep_doc_id, n_tokens_removed AS n_copies
    FROM (
        WITH dtoks AS (
            SELECT doc_id, {_WORDS_SQL.format(c="text")} AS toks
            FROM documents
        ), doccs AS (
            SELECT doc_id, s - 1 AS st,
                   md5(array_to_string(toks[s:s+7], ' ')) AS h
            FROM dtoks,
                 unnest(generate_series(1, greatest(len(toks) - 7, 0)))
                     AS t(s)
        ), dspans AS (
            SELECT h, min(doc_id) AS keep_doc
            FROM doccs GROUP BY h
            HAVING count(DISTINCT doc_id) >= 2
        ), dremove AS (
            SELECT doc_id, st FROM (
                SELECT o.doc_id, o.st, s.keep_doc,
                       row_number() OVER (
                           PARTITION BY o.doc_id, o.h ORDER BY o.st
                       ) AS rn
                FROM doccs o JOIN dspans s USING (h)
            ) WHERE NOT (doc_id = keep_doc AND rn = 1)
        ), dstarts AS (
            SELECT doc_id, list(st) AS sts FROM dremove GROUP BY doc_id
        )
        SELECT t.doc_id,
               -- coalesce: DuckDB's array_to_string of an EMPTY list
               -- is NULL while Spark's array_join is '' (a fully-
               -- boilerplate doc loses every token); NULL toks (null
               -- text) stays NULL on both sides
               CASE WHEN t.toks IS NULL THEN NULL
                    ELSE coalesce(array_to_string(
                   list_transform(
                       list_filter(
                           generate_series(1, len(t.toks)),
                           j -> len(list_filter(
                               coalesce(d.sts, CAST([] AS BIGINT[])),
                               st -> st <= j - 1 AND j - 1 < st + 8
                           )) = 0
                       ),
                       j -> t.toks[j]
                   ), ' '
               ), '') END AS text_dedup,
               len(t.toks)
               - len(list_filter(
                     generate_series(1, len(t.toks)),
                     j -> len(list_filter(
                         coalesce(d.sts, CAST([] AS BIGINT[])),
                         st -> st <= j - 1 AND j - 1 < st + 8
                     )) = 0
                 )) AS n_tokens_removed
        FROM dtoks t LEFT JOIN dstarts d USING (doc_id)
    ) dd
    UNION ALL
    -- Loss-masking form (round 10, dedup.dup_span_token_mask): the
    -- SAME dedup decision delivered as a per-token keep/mask flag.
    -- text_hash = md5 of the mask as a '1'/'0' bitstring (position j
    -- is '1' iff the token survives), n_copies = tokens masked. The
    -- bitstring pins every per-token decision — strictly stronger
    -- than the rebuilt text (repeated tokens make different masks
    -- rebuild identical text).
    SELECT 'despan_mask' AS branch,
           CASE WHEN toks IS NULL THEN NULL
                ELSE coalesce(md5(array_to_string(
               list_transform(
                   generate_series(1, len(toks)),
                   j -> CASE WHEN len(list_filter(
                            sts, st -> st <= j - 1 AND j - 1 < st + 8
                        )) = 0 THEN '1' ELSE '0' END
               ), ''
           )), md5('')) END AS text_hash,
           doc_id AS keep_doc_id,
           len(list_filter(
               generate_series(1, len(toks)),
               j -> len(list_filter(
                   sts, st -> st <= j - 1 AND j - 1 < st + 8
               )) > 0
           )) AS n_copies
    FROM (
        WITH mtoks AS (
            SELECT doc_id, {_WORDS_SQL.format(c="text")} AS toks
            FROM documents
        ), moccs AS (
            SELECT doc_id, s - 1 AS st,
                   md5(array_to_string(toks[s:s+7], ' ')) AS h
            FROM mtoks,
                 unnest(generate_series(1, greatest(len(toks) - 7, 0)))
                     AS t(s)
        ), mspans AS (
            SELECT h, min(doc_id) AS keep_doc
            FROM moccs GROUP BY h
            HAVING count(DISTINCT doc_id) >= 2
        ), mremove AS (
            SELECT doc_id, st FROM (
                SELECT o.doc_id, o.st, s.keep_doc,
                       row_number() OVER (
                           PARTITION BY o.doc_id, o.h ORDER BY o.st
                       ) AS rn
                FROM moccs o JOIN mspans s USING (h)
            ) WHERE NOT (doc_id = keep_doc AND rn = 1)
        )
        SELECT t.doc_id, t.toks,
               coalesce(d.sts, CAST([] AS BIGINT[])) AS sts
        FROM mtoks t LEFT JOIN (
            SELECT doc_id, list(st) AS sts FROM mremove GROUP BY doc_id
        ) d USING (doc_id)
    ) mm
    """,
)
def docs_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged exact-duplication entry.

    branch='doc' — whole-document exact dedup: hash-groupBy, keep
    lowest doc_id. At 100 TB this is one shuffle on a 16-byte key with
    map-side combine.

    branch='substring' — exact-substring duplication (round 4,
    dedup.substring_dup_spans): verbatim 8-token windows repeated
    ACROSS documents (boilerplate/templates document-level dedup
    cannot see). Map-side window explode, one partial-agg shuffle on
    the window hash — never pairwise; production window ~50 tokens,
    same plan."""
    docs = load_table(spark, sf_dir, "documents")
    doc = dedup.exact_dedup(docs, "text", "doc_id").select(
        F.lit("doc").alias("branch"), "text_hash", "keep_doc_id", "n_copies"
    )
    # THREE branches consume the span table (substring report, despan
    # removal, despan_mask) but NO persist is needed: the subtrees are
    # identical, so Spark's ReusedExchange computes the span shuffle
    # once within the union plan (A/B-measured a wash vs scoped_persist
    # at sf0.1 — [2.69, 2.15] unshared vs [2.54, 2.10] persisted).
    # Library callers materializing the removal and masking forms as
    # SEPARATE actions should precompute + persist spans and pass it
    # via the operators' spans= parameter instead.
    spans = dedup.substring_dup_spans(docs, "text", "doc_id", 8)
    sub = spans.select(
        F.lit("substring").alias("branch"),
        "text_hash",
        "keep_doc_id",
        "n_copies",
    )
    # branch='despan' (round 10, dedup.remove_dup_spans): the REMOVAL
    # half — every doc's token stream with duplicated windows cut,
    # keeper = first occurrence in the lowest-id doc. text_hash is the
    # md5 of the ENTIRE rebuilt stream, so the oracle hash-checks
    # every kept token of every document; n_copies carries the
    # removed-token count.
    desp = dedup.remove_dup_spans(docs, "text", "doc_id", 8, spans=spans).select(
        F.lit("despan").alias("branch"),
        F.md5("text_dedup").alias("text_hash"),
        F.col("doc_id").alias("keep_doc_id"),
        F.col("n_tokens_removed").alias("n_copies"),
    )
    # branch='despan_mask' (round 10, dedup.dup_span_token_mask): the
    # loss-masking delivery of the same decision — text_hash = md5 of
    # the mask as a '1'/'0' bitstring, pinning every per-token verdict
    # (strictly stronger than the rebuilt text: repeated tokens make
    # different masks rebuild identical text); n_copies = tokens
    # masked.
    mask = dedup.dup_span_token_mask(
        docs, "text", "doc_id", 8, spans=spans
    ).select(
        F.lit("despan_mask").alias("branch"),
        F.md5(
            F.array_join(
                F.transform(
                    "mask", lambda b: F.when(b, F.lit("1")).otherwise("0")
                ),
                "",
            )
        ).alias("text_hash"),
        F.col("doc_id").alias("keep_doc_id"),
        F.col("n_tokens_masked").alias("n_copies"),
    )
    return doc.unionByName(sub).unionByName(desp).unionByName(mask)


def embedding_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k ANN baseline: broadcast the (small)
    query set, stream the corpus, per-query top-k window. Cosine is
    rounded to 1e-6 BEFORE ranking so summation-order ulps cannot flip
    the ordering; ties break on neighbor_id."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", similarity.as_double_vec(F.col("embedding")).alias("v")
    )
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    return similarity.brute_force_knn(
        emb, queries, "vec_id", "query_id", "v", k=5
    ).select("query_id", "neighbor_id", "cosine")


# ---------------------------------------------------------------------------
# Near-duplicate detection (MinHash+LSH, SimHash, Jaccard verify)
#
# The synthetic corpus has no natural near-dups, so each query plants
# mutated copies (doc_id+1000000, text || ' zzz') on BOTH sides — the
# operators then have something real to find.
# ---------------------------------------------------------------------------

_K_MINHASH = 12
_LSH_BANDS, _LSH_ROWS = 4, 3

_PLANTED_SQL = """
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, text || ' zzz' AS text
        FROM documents WHERE doc_id < 25
"""

# DuckDB mirrors of operators/dedup.py, generated from the same params.
_SHINGLED_SQL = f"""
    corpus AS ({_PLANTED_SQL}),
    shingled AS (
        SELECT doc_id, unnest(list_distinct(ngrams)) AS shingle
        FROM (SELECT doc_id,
                     {_NGRAMS3_SQL.format(w=_WORDS_SQL.format(c="text"))} AS ngrams
              FROM corpus)
    )
"""
_SIG_COLS = ", ".join(
    f"min(md5('{i}:' || shingle)) AS h{i}" for i in range(_K_MINHASH)
)
_BANDS_SQL = " UNION ALL ".join(
    "SELECT doc_id, {b} AS band_idx, md5({cat}) AS band_hash FROM sig".format(
        b=b,
        cat=" || '|' || ".join(f"h{b * _LSH_ROWS + r}" for r in range(_LSH_ROWS)),
    )
    for b in range(_LSH_BANDS)
)


def _planted_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    mutated = docs.filter(F.col("doc_id") < 25).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzz")).alias("text"),
    )
    return docs.unionByName(mutated)


_SIMHASH_BITSUMS = ", ".join(
    "sum((strpos('0123456789abcdef', substr(md5(w), {p}, 1)) - 1) % 2) AS s{j}".format(
        p=j + 1, j=j
    )
    for j in range(16)
)
_SIMHASH_VALUE = " + ".join(
    f"CASE WHEN 2 * s{j} > n_words THEN {1 << j} ELSE 0 END" for j in range(16)
)


@query(
    "docs_simhash_neardups",
    oracle=f"""
    WITH corpus AS ({_PLANTED_SQL}),
    wordsets AS (
        SELECT doc_id, unnest(list_distinct({_WORDS_SQL.format(c="text")})) AS w
        FROM corpus
    ),
    bits AS (
        SELECT doc_id, count(*) AS n_words, {_SIMHASH_BITSUMS}
        FROM wordsets GROUP BY doc_id
    ),
    sims AS (
        SELECT doc_id, CAST({_SIMHASH_VALUE} AS BIGINT) AS simhash FROM bits
    )
    SELECT 'pairs16' AS scope, a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM sims a
    JOIN sims b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    UNION ALL
    SELECT 'simhash64_check' AS scope, NULL AS id_a, NULL AS id_b,
           CAST(0 AS BIGINT) AS hamming
    """,
)
def docs_simhash_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs via banded pigeonhole (4 bands of 4 bits
    > max_hamming=3, so recall is EXACT — the oracle is the brute-force
    all-pairs definition, while the engine never runs an all-pairs
    stage).

    The ``simhash64_check`` branch oracles the production-scale 64-bit
    xxhash64 fingerprint (operators/dedup.simhash64), which DuckDB
    cannot recompute: the engine runs the banded pigeonhole join AND
    the brute-force Hamming definition over a bounded sample (~225
    docs, so the all-pairs verify stage stays O(sample²), never
    corpus-sized) and emits the size of the symmetric difference of
    the two pair sets as ``hamming`` — 0 iff the banded join has exact
    recall AND precision at 64 bits. DuckDB pins that 0, so any
    regression in the xxhash64 path, the 16-bit band split, or the
    pigeonhole proof flips the driver row red."""
    from travelpulse_spark_stream_tourism_analytics_spark.operators._cache import (
        scoped_persist,
    )

    corpus = _planted_docs(spark, sf_dir)
    # Persist the SIGNATURE relations (round 10): the pair stage's
    # blocked self-join evaluates its input lineage 3x (size agg +
    # both join sides — deliberate for the wide exploded-shingle
    # relations, see blocked_self_join_pairs), which re-ran the
    # md5-parity fold over the whole corpus each time. The signatures
    # are (id, long) rows — KB-scale, bounded by the scoped-cache
    # contract — so caching them is nothing like the REJECTED eager
    # checkpoint of the exploded relation. Measured at sf0.1: entry
    # exec 4.5-4.7 -> 3.1-3.3 s, output identical (6.3M rows compared).
    sims = scoped_persist(
        dedup.simhash16(corpus, "doc_id", "text"), "plans.simhash16.sigs"
    )
    pairs16 = dedup.simhash_neardup_pairs(sims, "doc_id", max_hamming=3).select(
        F.lit("pairs16").alias("scope"), "id_a", "id_b", "hamming"
    )

    sample = corpus.filter(
        (F.col("doc_id") < 200) | (F.col("doc_id") >= 1000000)
    )
    sims64 = scoped_persist(
        dedup.simhash64(sample, "doc_id", "text"), "plans.simhash64.sigs"
    )
    banded = dedup.simhash_neardup_pairs(
        sims64, "doc_id", max_hamming=3, bits=64
    ).select("id_a", "id_b")
    a = sims64.select(F.col("doc_id").alias("id_a"), F.col("simhash").alias("sh_a"))
    b = sims64.select(F.col("doc_id").alias("id_b"), F.col("simhash").alias("sh_b"))
    brute = (
        a.join(b, F.col("id_a") < F.col("id_b"))  # broadcast NLJ on the sample
        .filter(F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))) <= 3)
        .select("id_a", "id_b")
    )
    check = (
        banded.exceptAll(brute)
        .unionAll(brute.exceptAll(banded))
        .agg(F.count("*").alias("n"))
        .select(
            F.lit("simhash64_check").alias("scope"),
            F.lit(None).cast("long").alias("id_a"),
            F.lit(None).cast("long").alias("id_b"),
            F.col("n").cast("long").alias("hamming"),
        )
    )
    return pairs16.unionByName(check)


# ---------------------------------------------------------------------------
# Embedding LSH (random hyperplanes) — the scale path for similarity
# ---------------------------------------------------------------------------

# 8 planes here because the plane weights are embedded as literals in
# the oracle SQL and the fixture corpus is small; production sizing is
# similarity.auto_n_planes(corpus_size) — ~4·sqrt(n) buckets, 16-24
# planes at real scale (see tests/test_dedup_scale.py).
_PLANES = similarity.hyperplanes(n_planes=8, dim=64, seed="tp")


def _plane_sql(p: list[float]) -> str:
    return "[" + ", ".join(repr(w) for w in p) + "]"


_BUCKET_SQL = " || ".join(
    f"(CASE WHEN list_dot_product(v, {_plane_sql(p)}) >= 0 "
    "THEN '1' ELSE '0' END)"
    for p in _PLANES
)


_DOTS_SQL = (
    "[" + ", ".join(f"list_dot_product(v, {_plane_sql(p)})" for p in _PLANES) + "]"
)
_N_PLANES = len(_PLANES)


@query(
    "embedding_lsh_neardups",
    oracle=f"""
    WITH corpus AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        UNION ALL
        SELECT vec_id + 1000000 AS vec_id, embedding::DOUBLE[] AS v
        FROM embeddings WHERE vec_id < 10
    ),
    bucketed AS (SELECT vec_id, v, {_BUCKET_SQL} AS bucket FROM corpus)
    SELECT 'home' AS branch, a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v))
                    * sqrt(list_dot_product(b.v, b.v))), 6) AS cosine
    FROM bucketed a
    JOIN bucketed b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE round(list_dot_product(a.v, b.v)
                 / (sqrt(list_dot_product(a.v, a.v))
                    * sqrt(list_dot_product(b.v, b.v))), 6) >= 0.99
    UNION ALL
    -- Multi-probe (round 4): each vector also probes the buckets
    -- reached by flipping its 2 lowest-|margin| hyperplane signs (the
    -- planes a true near-duplicate most plausibly disagrees on), so
    -- near-misses split by one plane are recovered without
    -- coarsening the whole table.
    SELECT 'multiprobe' AS branch, id_a, id_b, cosine
    FROM (
        WITH corpus AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            UNION ALL
            SELECT vec_id + 1000000 AS vec_id, embedding::DOUBLE[] AS v
            FROM embeddings WHERE vec_id < 10
        ),
        geom AS (
            SELECT vec_id, v, {_DOTS_SQL} AS dots,
                   {_BUCKET_SQL} AS home
            FROM corpus
        ),
        flipped AS (
            SELECT vec_id, v, home,
                   list_transform(
                       list_transform(
                           list_sort(list_transform(
                               generate_series(0, {_N_PLANES - 1}),
                               i -> {{'m': abs(dots[i + 1]), 'i': i}})),
                           s -> s.i)[1:2],
                       fi -> substr(home, 1, fi)
                             || (CASE WHEN substr(home, fi + 1, 1) = '1'
                                      THEN '0' ELSE '1' END)
                             || substr(home, fi + 2, {_N_PLANES}))
                       AS flips
            FROM geom
        ),
        probed AS (
            SELECT vec_id, v,
                   unnest(list_prepend(home, flips)) AS probe
            FROM flipped
        )
        SELECT DISTINCT
               least(p.vec_id, h.vec_id) AS id_a,
               greatest(p.vec_id, h.vec_id) AS id_b,
               round(list_dot_product(p.v, h.v)
                     / (sqrt(list_dot_product(p.v, p.v))
                        * sqrt(list_dot_product(h.v, h.v))), 6) AS cosine
        FROM probed p
        JOIN geom h ON p.probe = h.home AND p.vec_id <> h.vec_id
        WHERE round(list_dot_product(p.v, h.v)
                     / (sqrt(list_dot_product(p.v, p.v))
                        * sqrt(list_dot_product(h.v, h.v))), 6) >= 0.99
    ) mp
    """,
)
def embedding_lsh_neardups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged hyperplane-LSH near-dup entry.

    branch='home' — bucket equi-join + in-bucket exact cosine (planted
    exact copies give cosine 1.0). This is the join shape that
    survives 100 TB — no cross join.

    branch='multiprobe' — similarity.lsh_neardup_pairs_multiprobe
    (round 4): besides its home bucket every vector probes the buckets
    reached by flipping its 2 lowest-margin hyperplane signs — the
    recall lever that pairs with auto_n_planes (finer buckets, same
    recall). The probe fan-out is a bounded 3x row multiplier; the
    join stays a bucket equi-join through the blocked bipartite pair
    generator."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", similarity.as_double_vec(F.col("embedding")).alias("v")
    )
    planted = emb.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "v"
    )
    corpus = emb.unionByName(planted)
    home = similarity.lsh_neardup_pairs(
        corpus, "vec_id", "v", _PLANES, 0.99
    ).select(F.lit("home").alias("branch"), "id_a", "id_b", "cosine")
    mp = similarity.lsh_neardup_pairs_multiprobe(
        corpus, "vec_id", "v", _PLANES, 0.99, n_probe_bits=2
    ).select(F.lit("multiprobe").alias("branch"), "id_a", "id_b", "cosine")
    return home.unionByName(mp)


# ---------------------------------------------------------------------------
# Language ID
# ---------------------------------------------------------------------------

_EN_BIGRAMS = ["th", "he", "in", "er", "an", "re", "on", "at"]
_IT_BIGRAMS = ["di", "la", "to", "ia", "ta", "ra", "no", "le"]


@query(
    "embedding_ivf_knn",
    # KMeans centroids are not SQL-expressible, but the RECALL CONTRACT
    # is (VERDICT r1 item 5): the IVF top-5 lists must overlap the
    # exact brute-force top-5 by >= the floor ON AVERAGE across the
    # query set. The engine computes the overlap in-Spark (both sides
    # deterministic: seeded KMeans, rounded-cosine + id tiebreaks); the
    # oracle pins the passing verdict. Mean recall — not per-query —
    # because the fixture embeddings are uniform RANDOM vectors, the
    # adversarial case for IVF: true neighbors scatter across cells,
    # so any single query's recall is near-binomial(n_probe/n_cells)
    # while the 25-neighbor mean concentrates. A real recall
    # regression still flips the verdict and hash-fails.
    #
    # Floor = measured-minus-margin (VERDICT r2): seeded KMeans +
    # rounded-cosine tiebreaks make the recall deterministic per
    # corpus — measured 0.84 / 0.72 / 0.96 at sf0.001/0.01/0.1 — so
    # 0.6 (min measured minus 0.12) trips any real regression (e.g.
    # 0.72 -> 0.55) while staying insensitive to corpus regeneration.
    # tests/test_verdict_contracts.py recomputes the recall
    # independently of this function's denominator.
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_queries,
           CAST(5 AS BIGINT) AS k,
           0.6 AS mean_recall_floor,
           TRUE AS recall_ok
    FROM embeddings WHERE vec_id < 5
    """,
)
def embedding_ivf_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate kNN: KMeans-cell-partitioned search probing half
    the cells per query (operators/similarity.ivf_index/ivf_knn) — the
    data-adaptive scale path — checked against its own exact
    brute-force baseline via mean recall@5 over the query set."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", similarity.as_double_vec(F.col("embedding")).alias("v")
    )
    # Cell count scales with the corpus (~64 vectors per cell, the
    # standard IVF sizing) instead of a fixed 16: a tiny corpus would
    # otherwise scatter true neighbors across more cells than n_probe
    # can reach, and a huge one would get overfull cells. The count()
    # is one columnar scan of the (small) index-build side.
    n_cells = max(4, min(16, emb.count() // 64))
    n_probe = max(2, n_cells // 2)
    corpus, model = similarity.ivf_index(emb, "vec_id", "v", n_cells=n_cells)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    ivf = similarity.ivf_knn(
        corpus, model, queries, "vec_id", "query_id", "v", k=5, n_probe=n_probe
    ).select("query_id", "neighbor_id")
    exact = similarity.brute_force_knn(
        emb, queries, "vec_id", "query_id", "v", k=5
    ).select("query_id", "neighbor_id")
    n_hits = ivf.join(
        exact, ["query_id", "neighbor_id"], "left_semi"
    ).count()
    n_queries = queries.count()
    mean_recall = n_hits / (5.0 * n_queries) if n_queries else 0.0
    return spark.createDataFrame(
        [(n_queries, 5, 0.6, mean_recall >= 0.6)],
        "n_queries long, k long, mean_recall_floor double, recall_ok boolean",
    )


_CLUSTERS_ORACLE = f"""
WITH RECURSIVE {_SHINGLED_SQL.strip()},
sig AS (SELECT doc_id, {_SIG_COLS} FROM shingled GROUP BY doc_id),
bands AS ({_BANDS_SQL}),
pairs AS (
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a
    JOIN bands b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
                AND a.doc_id < b.doc_id
),
sym AS (SELECT id_a AS u, id_b AS v FROM pairs
        UNION SELECT id_b, id_a FROM pairs),
reach(u, v) AS (
    SELECT u, v FROM sym
    UNION
    SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
),
comp AS (SELECT u AS node, least(u, min(v)) AS comp FROM reach GROUP BY u),
-- Leakage-safe train/val assignment (round 5, operators/splits.py):
-- the split unit is the near-dup COMPONENT — grp = component label
-- (or own id for singletons), side = md5-hex threshold on grp
-- ('0'/'1'/'2' -> val, ~3/16), so every member of a cluster lands on
-- the same side by construction and the assignment is reproducible
-- across engines without RNG state.
assigned AS (
    SELECT d.doc_id,
           coalesce(c.comp, d.doc_id) AS canonical_id,
           CASE WHEN substr(md5(coalesce(c.comp, d.doc_id)::VARCHAR), 1, 1)
                     IN ('0', '1', '2')
                THEN 'val' ELSE 'train' END AS split
    FROM (SELECT doc_id FROM corpus) d
    LEFT JOIN comp c ON c.node = d.doc_id
)
SELECT 'clusters' AS branch, comp AS canonical_id,
       count(*) AS cluster_size, NULL::VARCHAR AS split
FROM comp GROUP BY comp HAVING count(*) > 1
UNION ALL
SELECT 'split_comp' AS branch, canonical_id, n AS cluster_size, split
FROM (SELECT canonical_id, split, count(*) AS n,
             sum(count(*)) OVER (PARTITION BY canonical_id) AS tot
      FROM assigned GROUP BY canonical_id, split)
WHERE tot > 1
UNION ALL
SELECT 'split_sizes' AS branch, NULL::BIGINT AS canonical_id,
       count(*) AS cluster_size, split
FROM assigned GROUP BY split
UNION ALL
SELECT 'split_leak' AS branch, NULL::BIGINT AS canonical_id,
       count(*) AS cluster_size, NULL::VARCHAR AS split
FROM (SELECT canonical_id FROM assigned
      GROUP BY canonical_id HAVING count(DISTINCT split) > 1)
"""


# The iterative min-label propagation has an exact SQL twin after all:
# a recursive-CTE transitive closure (safe here — near-dup clusters are
# tiny; at adversarial scale the closure explodes where label
# propagation does not, which is why the engine side stays iterative).
@query("docs_dedup_clusters", oracle=_CLUSTERS_ORACLE)
def docs_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full dedup endgame: LSH candidate pairs -> connected components
    -> one canonical doc per duplicate cluster. Round 3 switched the
    component stage to alternating large-star/small-star
    (operators/components.connected_components_star): identical
    assignment output (symmetric difference 0 vs propagation on the
    sf1 edge list) in O(log n) rounds — 8.0 s vs 30.8 s at sf1, and
    immune to the O(diameter) blowup on chain-shaped dup families.
    The pair stage feeding it is oracle-checked
    (docs_minhash_lsh_pairs) and the component math is pinned exactly
    in tests/test_etl.py plus union-find parity tests.

    Round 5 adds the LEAKAGE-SAFE TRAIN/VAL SPLIT branches
    (operators/splits.cluster_safe_split): the split unit is the
    near-dup component, assigned by md5-hex threshold on the component
    label (singletons hash on their own id) —
    branch='split_comp' pins the per-(component, side) membership of
    every multi-doc cluster, 'split_sizes' the corpus-wide side
    counts (singleton hashing included), and 'split_leak' the number
    of components straddling the split, which must be 0 — the
    anti-leakage contract itself, recomputed by the engine from the
    assignment rather than assumed."""
    from travelpulse_spark_stream_tourism_analytics_spark.operators.components import (
        canonical_ids,
        connected_components_star,
    )
    from travelpulse_spark_stream_tourism_analytics_spark.operators.splits import (
        cluster_safe_split,
    )

    corpus = _planted_docs(spark, sf_dir)
    shingled = dedup.exploded_shingles(corpus, "doc_id", "text", 3)
    sigs = dedup.minhash_signatures(shingled, "doc_id", _K_MINHASH)
    bands = dedup.lsh_bands(sigs, "doc_id", _LSH_BANDS, _LSH_ROWS)
    pairs = dedup.lsh_candidate_pairs(bands, "doc_id")
    comp = connected_components_star(pairs)
    clusters = (
        canonical_ids(corpus.select("doc_id"), comp, "doc_id")
        .groupBy("canonical_id")
        .agg(F.count("*").alias("cluster_size"))
        .filter(F.col("cluster_size") > 1)
        .select(
            F.lit("clusters").alias("branch"),
            "canonical_id",
            "cluster_size",
            F.lit(None).cast("string").alias("split"),
        )
    )
    assigned = cluster_safe_split(
        corpus.select("doc_id"),
        comp.select(
            F.col("node").alias("doc_id"), F.col("comp").alias("component")
        ),
    ).join(canonical_ids(corpus.select("doc_id"), comp, "doc_id"), "doc_id")
    comp_split = assigned.groupBy("canonical_id", "split").agg(
        F.count("*").alias("n")
    )
    tot = Window.partitionBy("canonical_id")
    split_comp = (
        comp_split.withColumn("__tot", F.sum("n").over(tot))
        .filter(F.col("__tot") > 1)
        .select(
            F.lit("split_comp").alias("branch"),
            "canonical_id",
            F.col("n").alias("cluster_size"),
            "split",
        )
    )
    split_sizes = assigned.groupBy("split").agg(
        F.count("*").alias("cluster_size")
    ).select(
        F.lit("split_sizes").alias("branch"),
        F.lit(None).cast("long").alias("canonical_id"),
        "cluster_size",
        "split",
    )
    split_leak = (
        assigned.groupBy("canonical_id")
        .agg(F.countDistinct("split").alias("__ns"))
        .filter(F.col("__ns") > 1)
        .agg(F.count("*").alias("cluster_size"))
        .select(
            F.lit("split_leak").alias("branch"),
            F.lit(None).cast("long").alias("canonical_id"),
            "cluster_size",
            F.lit(None).cast("string").alias("split"),
        )
    )
    return (
        clusters.unionByName(split_comp)
        .unionByName(split_sizes)
        .unionByName(split_leak)
    )


@query(
    "embedding_label_centroids",
    oracle="""
    SELECT 'centroid' AS branch, label, i AS pos,
           round(avg(emb[i]), 6) AS mean_v
    FROM (SELECT label, embedding::DOUBLE[] AS emb FROM embeddings),
         generate_series(1, 64) t(i)
    GROUP BY 2, 3
    UNION ALL
    -- Distributed PCA (round 4): the 2x2 eigenproblem over embedding
    -- dims 1-2 is CLOSED-FORM (quadratic characteristic polynomial),
    -- so the engine's generic pca_fit/pca_project machinery — the
    -- mapInPandas (count, sum, gram) partial pass, driver
    -- eigendecomposition, plan-constant projection — is hash-checked
    -- end to end against an independent algebraic derivation.
    -- Eigenvector of [[a,b],[b,c]] for eigenvalue l is (b, l - a)
    -- (valid while b != 0); sign fixed so the largest-|.| entry is
    -- positive, matching pca_fit's convention (first index wins ties).
    SELECT 'pca2' AS branch, ci AS label, pos, mean_v
    FROM (
        WITH two AS (
            SELECT vec_id, embedding[1]::DOUBLE AS x,
                   embedding[2]::DOUBLE AS y
            FROM embeddings
        ), stats AS (
            SELECT count(*)::DOUBLE AS n, avg(x) AS mx, avg(y) AS my,
                   sum(x * x) AS sxx, sum(x * y) AS sxy,
                   sum(y * y) AS syy
            FROM two
        ), cov AS (
            SELECT mx, my,
                   sxx / n - mx * mx AS a,
                   sxy / n - mx * my AS b,
                   syy / n - my * my AS c
            FROM stats
        ), eig AS (
            SELECT mx, my, a, b, c,
                   (a + c) / 2 + sqrt((a - c) * (a - c) / 4 + b * b) AS l1,
                   (a + c) / 2 - sqrt((a - c) * (a - c) / 4 + b * b) AS l2
            FROM cov
        ), comps AS (
            SELECT 0 AS ci, b AS wx, l1 - a AS wy, l1 AS lv, mx, my FROM eig
            UNION ALL
            SELECT 1 AS ci, b AS wx, l2 - a AS wy, l2 AS lv, mx, my FROM eig
        ), units AS (
            SELECT ci, mx, my, lv,
                   CASE WHEN (CASE WHEN abs(wx) >= abs(wy)
                                   THEN wx ELSE wy END) < 0
                        THEN -wx / nrm ELSE wx / nrm END AS ux,
                   CASE WHEN (CASE WHEN abs(wx) >= abs(wy)
                                   THEN wx ELSE wy END) < 0
                        THEN -wy / nrm ELSE wy / nrm END AS uy
            FROM (SELECT *, sqrt(wx * wx + wy * wy) AS nrm FROM comps)
        )
        SELECT u.ci::INTEGER AS ci, t.vec_id AS pos,
               round((t.x - u.mx) * u.ux + (t.y - u.my) * u.uy, 6)
                   AS mean_v
        FROM two t, units u
    ) p
    UNION ALL
    -- Whitened projection (round 5, pca_whiten): each coordinate
    -- divided by the component's standard deviation sqrt(max(l, eps)),
    -- identity output covariance — the PQ preconditioning path,
    -- oracled via the same closed-form eigenvalues.
    SELECT 'pca2w' AS branch, ci AS label, pos, mean_v
    FROM (
        WITH two AS (
            SELECT vec_id, embedding[1]::DOUBLE AS x,
                   embedding[2]::DOUBLE AS y
            FROM embeddings
        ), stats AS (
            SELECT count(*)::DOUBLE AS n, avg(x) AS mx, avg(y) AS my,
                   sum(x * x) AS sxx, sum(x * y) AS sxy,
                   sum(y * y) AS syy
            FROM two
        ), cov AS (
            SELECT mx, my,
                   sxx / n - mx * mx AS a,
                   sxy / n - mx * my AS b,
                   syy / n - my * my AS c
            FROM stats
        ), eig AS (
            SELECT mx, my, a, b, c,
                   (a + c) / 2 + sqrt((a - c) * (a - c) / 4 + b * b) AS l1,
                   (a + c) / 2 - sqrt((a - c) * (a - c) / 4 + b * b) AS l2
            FROM cov
        ), comps AS (
            SELECT 0 AS ci, b AS wx, l1 - a AS wy, l1 AS lv, mx, my FROM eig
            UNION ALL
            SELECT 1 AS ci, b AS wx, l2 - a AS wy, l2 AS lv, mx, my FROM eig
        ), units AS (
            SELECT ci, mx, my, lv,
                   CASE WHEN (CASE WHEN abs(wx) >= abs(wy)
                                   THEN wx ELSE wy END) < 0
                        THEN -wx / nrm ELSE wx / nrm END AS ux,
                   CASE WHEN (CASE WHEN abs(wx) >= abs(wy)
                                   THEN wx ELSE wy END) < 0
                        THEN -wy / nrm ELSE wy / nrm END AS uy
            FROM (SELECT *, sqrt(wx * wx + wy * wy) AS nrm FROM comps)
        )
        SELECT u.ci::INTEGER AS ci, t.vec_id AS pos,
               round(((t.x - u.mx) * u.ux + (t.y - u.my) * u.uy)
                     / sqrt(greatest(u.lv, 1e-9)), 6) AS mean_v
        FROM two t, units u
    ) pw
    UNION ALL
    -- Robust outlier scores (round 5): modified z-score of the
    -- embedding L2 norm via median + MAD (Iglewicz-Hoaglin), the
    -- standard corrupted-vector screen (a zeroed, clipped, or
    -- mis-scaled embedding shows up as a norm outlier long before any
    -- nearest-neighbor check). quantile_cont == F.percentile with the
    -- same literal; 0.6744897501960817 = Phi^-1(3/4), spelled
    -- identically on both sides.
    SELECT 'outlier' AS branch, o_label AS label, vec_id AS pos, mean_v
    FROM (
        WITH norms AS (
            SELECT vec_id, label AS o_label,
                   sqrt(list_dot_product(embedding::DOUBLE[],
                                         embedding::DOUBLE[])) AS nrm
            FROM embeddings
        ), med AS (
            SELECT quantile_cont(nrm, 0.5) AS m FROM norms
        ), mad AS (
            SELECT quantile_cont(abs(nrm - m), 0.5) AS d FROM norms, med
        )
        SELECT vec_id, o_label,
               round(CASE WHEN d = 0.0 THEN 0.0
                     ELSE 0.6744897501960817 * (nrm - m) / d END, 6)
                   AS mean_v
        FROM norms, med, mad
    ) ol
    UNION ALL
    -- Embedding-space drift (round 10, operators/drift.py
    -- embedding_drift): even vec_ids = baseline snapshot, odd =
    -- candidate, first-6 seeds as the fixed quantizer. Per cell,
    -- pos codes the metric: 0 base occupancy share, 1 cand share,
    -- 2 PSI term on floor-clamped rounded shares, 3 centroid-shift
    -- cosine between the snapshots' per-cell mean vectors (computed
    -- on cosine-equivalent floor(v*1e15) DECIMAL sums — the pagerank
    -- recipe for order-independent float accumulation; NULL rows —
    -- a side with no members — are omitted, not emitted).
    SELECT 'emb_drift' AS branch, dcell AS label, dpos AS pos,
           dval AS mean_v
    FROM (
        WITH edbase AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            WHERE list_dot_product(embedding::DOUBLE[],
                                   embedding::DOUBLE[]) > 0
              AND NOT isnan(list_dot_product(embedding::DOUBLE[],
                                             embedding::DOUBLE[]))
              AND NOT isinf(list_dot_product(embedding::DOUBLE[],
                                             embedding::DOUBLE[]))
        ), edseeds AS (
            SELECT vec_id AS cell_id, v AS sv FROM edbase WHERE vec_id < 6
        ), edassigned AS (
            SELECT vec_id, v, cell_id, (vec_id % 2 = 0) AS is_base FROM (
                SELECT b.vec_id, b.v, s.cell_id,
                       row_number() OVER (
                           PARTITION BY b.vec_id
                           ORDER BY round(list_dot_product(b.v, s.sv)
                                    / (sqrt(list_dot_product(b.v, b.v))
                                       * sqrt(list_dot_product(s.sv, s.sv))),
                                    6) DESC, s.cell_id
                       ) AS rn
                FROM edbase b, edseeds s
            ) WHERE rn = 1
        ), edcounts AS (
            SELECT cell_id,
                   count(*) FILTER (is_base) AS base_n,
                   count(*) FILTER (NOT is_base) AS cand_n
            FROM edassigned GROUP BY cell_id
        ), edtotals AS (
            SELECT count(*) FILTER (is_base)::DOUBLE AS bt,
                   count(*) FILTER (NOT is_base)::DOUBLE AS ct
            FROM edassigned
        ), edsums AS (
            SELECT cell_id, is_base, list(qsum ORDER BY pos) AS sumvec
            FROM (
                SELECT cell_id, is_base, pos,
                       CAST(sum(CAST(floor(v[pos] * 1e15)
                                     AS DECIMAL(38,0))) AS DOUBLE) AS qsum
                FROM edassigned, generate_series(1, 64) t(pos)
                GROUP BY 1, 2, 3
            ) GROUP BY 1, 2
        ), edfinal AS (
            SELECT s.cell_id,
                   round(coalesce(c.base_n, 0) / t.bt, 6) AS base_share,
                   round(coalesce(c.cand_n, 0) / t.ct, 6) AS cand_share,
                   round((greatest(round(coalesce(c.base_n, 0) / t.bt, 6),
                                   1e-4)
                          - greatest(round(coalesce(c.cand_n, 0) / t.ct, 6),
                                     1e-4))
                         * ln(greatest(round(coalesce(c.base_n, 0) / t.bt,
                                             6), 1e-4)
                              / greatest(round(coalesce(c.cand_n, 0) / t.ct,
                                               6), 1e-4)), 6) AS psi_term,
                   CASE WHEN sb.sumvec IS NOT NULL
                             AND sc.sumvec IS NOT NULL THEN
                       round(list_dot_product(sb.sumvec, sc.sumvec)
                             / (sqrt(list_dot_product(sb.sumvec, sb.sumvec))
                                * sqrt(list_dot_product(sc.sumvec,
                                                        sc.sumvec))), 6)
                   END AS shift_cos
            FROM edseeds s
            LEFT JOIN edcounts c ON c.cell_id = s.cell_id
            LEFT JOIN edsums sb ON sb.cell_id = s.cell_id AND sb.is_base
            LEFT JOIN edsums sc ON sc.cell_id = s.cell_id AND NOT sc.is_base
            CROSS JOIN edtotals t
        )
        SELECT CAST(cell_id AS INTEGER) AS dcell,
               CAST(0 AS BIGINT) AS dpos, base_share AS dval FROM edfinal
        UNION ALL
        SELECT CAST(cell_id AS INTEGER), CAST(1 AS BIGINT), cand_share
        FROM edfinal
        UNION ALL
        SELECT CAST(cell_id AS INTEGER), CAST(2 AS BIGINT), psi_term
        FROM edfinal
        UNION ALL
        SELECT CAST(cell_id AS INTEGER), CAST(3 AS BIGINT), shift_cos
        FROM edfinal WHERE shift_cos IS NOT NULL
    ) ed
    """,
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged vector-statistics entry.

    branch='centroid' — per-label element-wise centroid (long format):
    dataset statistics over vector columns via posexplode; the
    building block for class prototypes / drift monitoring.

    branch='pca2' — distributed PCA (round 4, operators/pca.py) over
    embedding dims 1-2: one mapInPandas pass reduces each partition to
    (count, sum, gram) partials (d x d floats, independent of row
    count), the driver eigendecomposes the 2x2 covariance, and the
    projection is a plan-constant dot product per component — the
    identical fit/project code path used for the full-width PCA and
    whitening (pytest: test_distributed_pca_matches_numpy). The 2-dim
    restriction is what makes a SQL oracle possible: the 2x2
    eigenproblem has a closed algebraic form DuckDB can evaluate,
    which then pins the engine's WHOLE machinery (partial pass, eigh,
    sign convention, projection) value-exactly. Rows are (component
    as label, vec_id as pos, projection as mean_v)."""
    from travelpulse_spark_stream_tourism_analytics_spark.operators.pca import (
        pca_fit,
        pca_project,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label",
        similarity.as_double_vec(F.col("embedding")).alias("v"),
    )
    centroid = (
        emb.select("label", F.posexplode("v").alias("pos0", "val"))
        .groupBy("label", (F.col("pos0") + 1).cast("long").alias("pos"))
        .agg(F.round(F.avg("val"), 6).alias("mean_v"))
        .select(F.lit("centroid").alias("branch"), "label", "pos", "mean_v")
    )
    two = emb.select("vec_id", F.slice("v", 1, 2).alias("v2"))
    model = pca_fit(two, "v2", k=2)
    pca = (
        pca_project(two, model, "v2", "pc", scale=6)
        .select("vec_id", F.posexplode("pc").alias("ci", "coord"))
        .select(
            F.lit("pca2").alias("branch"),
            F.col("ci").cast("integer").alias("label"),
            F.col("vec_id").alias("pos"),
            F.col("coord").alias("mean_v"),
        )
    )
    # branch='pca2w' (round 5): the whitening path (pca_whiten) —
    # identical fit, coordinates divided by sqrt(max(variance, eps)) —
    # oracled against the same closed-form 2x2 eigenvalues, so the
    # whitening scale factors (previously pytest-only) are in the
    # driver gate too.
    from travelpulse_spark_stream_tourism_analytics_spark.operators.pca import (
        pca_whiten,
    )

    whitened = (
        pca_whiten(two, model, "v2", "pcw", eps=1e-9, scale=6)
        .select("vec_id", F.posexplode("pcw").alias("ci", "coord"))
        .select(
            F.lit("pca2w").alias("branch"),
            F.col("ci").cast("integer").alias("label"),
            F.col("vec_id").alias("pos"),
            F.col("coord").alias("mean_v"),
        )
    )
    # branch='outlier' (round 5): robust modified z-score of the
    # embedding L2 norm (median + MAD, Iglewicz-Hoaglin |z| > 3.5
    # convention) — the corrupted-vector screen a 100 TB embedding
    # pipeline runs before ANN indexing (zeroed / clipped / mis-scaled
    # vectors are norm outliers). One vector fold + two tiny exact
    # percentile aggs riding as broadcast 1-row relations (the
    # lazy-scalar recipe used by ppl_buckets); exact percentile is the
    # oracle-parity choice, approx_percentile is the documented swap at
    # scale. MAD == 0 (constant norms) degrades to z = 0.
    norms = scoped_persist(
        emb.select(
            "vec_id",
            "label",
            F.sqrt(similarity.dot(F.col("v"), F.col("v"))).alias("nrm"),
        ),
        "text.outlier.norms",
    )
    med = norms.agg(F.percentile("nrm", F.lit(0.5)).alias("m"))
    with_m = norms.crossJoin(F.broadcast(med))
    mad = with_m.agg(
        F.percentile(F.abs(F.col("nrm") - F.col("m")), F.lit(0.5)).alias("d")
    )
    outliers = with_m.crossJoin(F.broadcast(mad)).select(
        F.lit("outlier").alias("branch"),
        "label",
        F.col("vec_id").alias("pos"),
        F.round(
            F.when(F.col("d") == 0.0, F.lit(0.0)).otherwise(
                F.lit(0.6744897501960817)
                * (F.col("nrm") - F.col("m"))
                / F.col("d")
            ),
            6,
        ).alias("mean_v"),
    )
    # branch='emb_drift' (round 10): embedding-SPACE drift between two
    # snapshot halves of the corpus (even vec_ids = baseline, odd =
    # candidate; first-6 seeds as the fixed quantizer) — per-cell
    # occupancy PSI + centroid-shift cosine via operators/drift.py
    # embedding_drift (the vector complement of the scalar PSI: a
    # distribution can rotate in embedding space without moving any
    # scalar marginal). pos codes the metric (0 base_share,
    # 1 cand_share, 2 psi_term, 3 shift cosine — NULL shifts omitted).
    from travelpulse_spark_stream_tourism_analytics_spark.operators.drift import (
        embedding_drift,
    )

    seeds = emb.filter(F.col("vec_id") < 6).select(
        F.col("vec_id").alias("cell_id"), F.col("v").alias("sv")
    )
    drift = (
        embedding_drift(
            emb.filter(F.col("vec_id") % 2 == 0).select("vec_id", "v"),
            emb.filter(F.col("vec_id") % 2 == 1).select("vec_id", "v"),
            seeds,
            id_col="vec_id",
            vec_col="v",
        )
        .select(
            F.col("cell_id").cast("integer").alias("label"),
            F.posexplode(
                F.array(
                    "base_share",
                    "cand_share",
                    "psi_term",
                    "centroid_shift_cosine",
                )
            ).alias("pos0", "mean_v"),
        )
        .filter(F.col("mean_v").isNotNull())
        .select(
            F.lit("emb_drift").alias("branch"),
            "label",
            F.col("pos0").cast("long").alias("pos"),
            "mean_v",
        )
    )
    return (
        centroid.unionByName(pca)
        .unionByName(whitened)
        .unionByName(outliers)
        .unionByName(drift)
    )


# BPE-ish subword pattern: word pieces, digit runs, punctuation runs,
# each optionally absorbing one leading space (GPT-2-style, simplified
# to the RE2-compatible subset — DuckDB's regex engine has no
# lookarounds).
_BPE_PATTERN = r" ?[a-z]+| ?[0-9]+| ?[^a-z0-9\s]+"

# DuckDB mirror of functions.text.pii_count (same RE2-safe patterns,
# case-insensitive via the inline (?i) flag, run on the original-case
# text exactly as the engine does).
_PII_HITS_SQL = " + ".join(
    f"len(regexp_extract_all(text, '{pat}'))"
    for pat in PII_PATTERNS.values()
)


@query(
    "docs_stratified_sample",
    oracle="""
    SELECT 'sample' AS branch, doc_id, source, lang, n_chars,
           NULL::BIGINT AS n_docs, NULL::DOUBLE AS weight
    FROM documents
    WHERE md5(doc_id::VARCHAR) <
          CASE source WHEN 'src0' THEN '2' WHEN 'src1' THEN '8' ELSE '4' END
    UNION ALL
    SELECT 'mixture' AS branch, NULL::BIGINT AS doc_id, source,
           NULL::VARCHAR AS lang, NULL::BIGINT AS n_chars,
           count(*) AS n_docs,
           round(round(sqrt(count(*)), 6)::DECIMAL(18,6)::DOUBLE
                 / sum(round(sqrt(count(*)), 6)::DECIMAL(18,6))
                       OVER ()::DOUBLE, 6) AS weight
    FROM documents
    GROUP BY source
    UNION ALL
    -- budget branch (round 5): token-budgeted mixture realization —
    -- per source, docs in md5 order while the running token total
    -- stays within floor(mixture_weight * 0.25 * corpus_tokens).
    -- n_docs carries the running token total, weight the budget.
    SELECT 'budget' AS branch, t.doc_id, t.source, t.lang, t.n_chars,
           t.cum AS n_docs, CAST(b.b AS DOUBLE) AS weight
    FROM (
        SELECT doc_id, source, lang, n_chars,
               CAST(sum(n_tokens) OVER (
                    PARTITION BY source
                    ORDER BY ok, doc_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
        FROM (
            SELECT doc_id, source, lang, n_chars,
                   CAST(len({words}) AS BIGINT) AS n_tokens,
                   md5(doc_id::VARCHAR) AS ok
            FROM documents
        ) tt
    ) t
    JOIN (
        SELECT source,
               CAST(floor(w * (0.25 * (
                   SELECT CAST(sum(CAST(len({words}) AS BIGINT)) AS DOUBLE)
                   FROM documents
               ))) AS BIGINT) AS b
        FROM (
            SELECT source,
                   round(round(sqrt(count(*)), 6)::DECIMAL(18,6)::DOUBLE
                         / sum(round(sqrt(count(*)), 6)::DECIMAL(18,6))
                               OVER ()::DOUBLE, 6) AS w
            FROM documents GROUP BY source
        ) mixw
    ) b ON t.source = b.source
    WHERE t.cum <= b.b
    UNION ALL
    -- es_sample branch (round 5): Efraimidis-Spirakis weighted
    -- sampling WITHOUT replacement, top-10 per source by key
    -- u^(1/n_chars) with the hash-derived uniform
    -- u = (md5(id||'es5')[:8 hex] + 0.5)/2^32. Keys rounded (1e-9)
    -- BEFORE ranking with an id tie-break so a one-ulp pow()
    -- divergence cannot flip a selection at the k boundary. n_docs
    -- carries the in-stratum rank, weight the rounded key.
    SELECT 'es_sample' AS branch, doc_id, source, lang, n_chars,
           rnk AS n_docs, rk AS weight
    FROM (
        SELECT doc_id, source, lang, n_chars, rk,
               CAST(row_number() OVER (
                   PARTITION BY source ORDER BY rk DESC, doc_id
               ) AS BIGINT) AS rnk
        FROM (
            SELECT doc_id, source, lang, n_chars,
                   round(pow(
                       (('0x' || substr(md5(doc_id::VARCHAR || 'es5'),
                                        1, 8))::BIGINT + 0.5)
                           / 4294967296.0,
                       1.0 / n_chars), 9) AS rk
            FROM documents WHERE n_chars > 0
        ) keyed
    ) ranked
    WHERE rnk <= 10
    UNION ALL
    -- temp_w branch (round 6, operators/splits.py temperature_weights):
    -- Conneau-Lample temperature scaling over per-source TOKEN mass at
    -- alpha=0.3 — each t^alpha rounded 1e-6 then summed DECIMAL(28,6)
    -- (exact, order-independent normalizer), ratio rounded 1e-9
    SELECT 'temp_w' AS branch, NULL::BIGINT AS doc_id, source,
           NULL::VARCHAR AS lang, NULL::BIGINT AS n_chars,
           NULL::BIGINT AS n_docs,
           round(round(pow(t, 0.3), 6)::DECIMAL(28,6)::DOUBLE
                 / sum(round(pow(t, 0.3), 6)::DECIMAL(28,6))
                       OVER ()::DOUBLE, 9) AS weight
    FROM (
        SELECT source,
               CAST(sum(CAST(len({words}) AS BIGINT)) AS DOUBLE) AS t
        FROM documents GROUP BY source
    )
    UNION ALL
    -- cluster_cap branch (round 9): embedding-cluster-balanced
    -- subsampling — own cell = argmax rounded cosine vs the 8 seed
    -- centroids (lowest cell on ties), at most 25 kept per cell in
    -- md5(id) order with an id tiebreak; n_docs = in-cluster rank,
    -- weight = the rounded own-centroid cosine.
    SELECT 'cluster_cap' AS branch, d.doc_id, d.source, d.lang,
           d.n_chars, a.rnk AS n_docs, a.own_cosine AS weight
    FROM (
        WITH cbase AS (
            -- mirror the operator's degenerate-input contract: zero /
            -- NaN / Inf-norm vectors are EXCLUDED from the sample on
            -- the Spark side, so the oracle must drop them too (else
            -- a degenerate row divides by a zero norm here and the
            -- branch diverges instead of matching the exclusion)
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            WHERE list_dot_product(embedding::DOUBLE[],
                                   embedding::DOUBLE[]) > 0
              AND NOT isnan(list_dot_product(embedding::DOUBLE[],
                                             embedding::DOUBLE[]))
              AND NOT isinf(list_dot_product(embedding::DOUBLE[],
                                             embedding::DOUBLE[]))
        ), cseeds AS (
            SELECT vec_id AS cell_id, v AS sv FROM cbase WHERE vec_id < 8
        ), cassigned AS (
            SELECT vec_id, cell_id, c AS own_cosine FROM (
                SELECT b.vec_id, s.cell_id,
                       round(list_dot_product(b.v, s.sv)
                             / (sqrt(list_dot_product(b.v, b.v))
                                * sqrt(list_dot_product(s.sv, s.sv))), 6)
                           AS c,
                       row_number() OVER (
                           PARTITION BY b.vec_id
                           ORDER BY round(list_dot_product(b.v, s.sv)
                                    / (sqrt(list_dot_product(b.v, b.v))
                                       * sqrt(list_dot_product(s.sv, s.sv))),
                                    6) DESC, s.cell_id
                       ) AS rn
                FROM cbase b, cseeds s
            ) ranked1 WHERE rn = 1
        )
        SELECT vec_id, cell_id, own_cosine,
               CAST(row_number() OVER (
                   PARTITION BY cell_id
                   ORDER BY md5(vec_id::VARCHAR), vec_id
               ) AS BIGINT) AS rnk
        FROM cassigned
    ) a
    JOIN documents d ON d.doc_id = a.vec_id
    WHERE a.rnk <= 25
    UNION ALL
    -- shard branch (round 10, operators/splits.py shuffled_shards):
    -- deterministic corpus shuffle + shard export — shuffle key
    -- md5(id || ':e1'), shard = first-8-hex int mod 8, pos = 1-based
    -- key rank within the shard (id tiebreak). n_docs carries pos,
    -- weight carries the shard id.
    SELECT 'shard' AS branch, doc_id, source, lang, n_chars,
           CAST(row_number() OVER (
               PARTITION BY shard ORDER BY k, doc_id
           ) AS BIGINT) AS n_docs,
           CAST(shard AS DOUBLE) AS weight
    FROM (
        SELECT doc_id, source, lang, n_chars,
               md5(doc_id::VARCHAR || ':e1') AS k,
               (('0x' || substr(md5(doc_id::VARCHAR || ':e1'), 1, 8))
                    ::BIGINT % 8) AS shard
        FROM documents
    )
    """.format(words=_WORDS_SQL.format(c="text")),
)
def docs_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged sampling + data-mixture entry.

    branch='sample' — deterministic stratified sampling by md5-hex
    threshold per stratum, the reproducible training-data sampling
    primitive (engine-portable: the hex string of md5(key) compares
    identically in any engine, unlike Bernoulli RNG sampling).
    Thresholds are hex prefixes: '2' keeps 2/16 of src0 docs, '8'
    keeps 8/16 of src1, '4' keeps 4/16 of the rest. Pure filter:
    pushes to the scan, no shuffle, trivially parallel at any scale.

    branch='mixture' — temperature-scaled source sampling weights
    (round 3): w_s = n_s^alpha / sum(n_s^alpha) with alpha=0.5, the
    standard data-mixing upweighting of small sources. One partial-agg
    shuffle on source; the global normalization window runs AFTER the
    aggregate, over |sources| rows. Each per-source sqrt is rounded
    then accumulated as DECIMAL(18,6) so the normalizing sum is exact
    and order-independent (double summation order would differ across
    engines).

    branch='budget' — token-budgeted mixture REALIZATION (round 5,
    operators/splits.py sample_to_token_budget): the mixture weights
    say what fraction each source contributes; this picks WHICH docs —
    per source in md5 order, running token total <= floor(weight *
    0.25 * corpus tokens). Two-phase bucketed cumulative sum (no
    whole-source single-task sort); the n_docs column carries the
    running token total, weight carries the source budget."""
    docs = load_table(spark, sf_dir, "documents")
    threshold = (
        F.when(F.col("source") == "src0", F.lit("2"))
        .when(F.col("source") == "src1", F.lit("8"))
        .otherwise(F.lit("4"))
    )
    sample = (
        docs.filter(F.md5(F.col("doc_id").cast("string")) < threshold)
        .select(
            F.lit("sample").alias("branch"),
            "doc_id",
            "source",
            "lang",
            "n_chars",
            F.lit(None).cast("long").alias("n_docs"),
            F.lit(None).cast("double").alias("weight"),
        )
    )
    num = F.round(F.sqrt(F.col("n_docs")), 6).cast("decimal(18,6)")
    denom = F.sum(num).over(Window.partitionBy())
    mixture = (
        docs.groupBy("source")
        .agg(F.count("*").alias("n_docs"))
        .select(
            F.lit("mixture").alias("branch"),
            F.lit(None).cast("long").alias("doc_id"),
            "source",
            F.lit(None).cast("string").alias("lang"),
            F.lit(None).cast("long").alias("n_chars"),
            "n_docs",
            F.round(num.cast("double") / denom.cast("double"), 6).alias(
                "weight"
            ),
        )
    )

    from travelpulse_spark_stream_tourism_analytics_spark.operators.splits import (
        sample_to_token_budget,
    )

    tok_docs = docs.select(
        "doc_id",
        "source",
        "lang",
        "n_chars",
        F.size(words_of(F.col("text"))).cast("long").alias("n_tokens"),
    )
    wdf = (
        docs.groupBy("source")
        .agg(F.count("*").alias("n_docs"))
        .select(
            "source",
            F.round(num.cast("double") / denom.cast("double"), 6).alias(
                "weight"
            ),
        )
    )
    budget = sample_to_token_budget(
        tok_docs, wdf, budget_frac=0.25
    ).select(
        F.lit("budget").alias("branch"),
        "doc_id",
        "source",
        "lang",
        "n_chars",
        F.col("__cum_tokens").alias("n_docs"),
        F.col("__budget_tokens").cast("double").alias("weight"),
    )
    # branch='es_sample' (round 5): Efraimidis-Spirakis weighted
    # sampling without replacement (operators/splits.py
    # weighted_sample_without_replacement), top-10 per source weighted
    # by n_chars — the reproducible weighted counterpart to the
    # md5-threshold Bernoulli sampler above.
    from travelpulse_spark_stream_tourism_analytics_spark.operators.splits import (
        weighted_sample_without_replacement,
    )

    es = weighted_sample_without_replacement(
        docs.select("doc_id", "source", "lang", "n_chars"),
        k=10,
        weight_col="n_chars",
        stratify_col="source",
    ).select(
        F.lit("es_sample").alias("branch"),
        "doc_id",
        "source",
        "lang",
        "n_chars",
        F.col("es_rank").alias("n_docs"),
        F.col("es_key").alias("weight"),
    )
    # branch='temp_w' (round 6): temperature-scaled mixture weights
    # over per-source TOKEN mass (operators/splits.py
    # temperature_weights, alpha=0.3 — the XLM-R rebalance), the
    # token-denominated counterpart to the doc-count 'mixture' branch.
    from travelpulse_spark_stream_tourism_analytics_spark.operators.splits import (
        temperature_weights,
    )

    tw = temperature_weights(tok_docs, alpha=0.3).select(
        F.lit("temp_w").alias("branch"),
        F.lit(None).cast("long").alias("doc_id"),
        "source",
        F.lit(None).cast("string").alias("lang"),
        F.lit(None).cast("long").alias("n_chars"),
        F.lit(None).cast("long").alias("n_docs"),
        "weight",
    )
    # branch='cluster_cap' (round 9, operators/splits.py
    # cluster_balanced_sample): embedding-cluster-balanced
    # subsampling — every doc's vector assigned to its max-cosine
    # seeded cell (the semdedup 8-seed convention), at most 25 docs
    # kept per cell in deterministic md5 order. The diversity-sampling
    # primitive: caps over-represented embedding neighborhoods the way
    # --cap-per-domain caps hosts. n_docs = in-cluster rank, weight =
    # rounded cosine to the own centroid.
    from travelpulse_spark_stream_tourism_analytics_spark.operators.splits import (
        cluster_balanced_sample,
    )

    emb9 = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", similarity.as_double_vec(F.col("embedding")).alias("v")
    )
    seeds9 = emb9.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cell_id"), F.col("v").alias("sv")
    )
    capped = cluster_balanced_sample(
        emb9, seeds9, cap=25, id_col="vec_id", vec_col="v"
    )
    cluster_cap = capped.join(
        docs, capped["vec_id"] == docs["doc_id"]
    ).select(
        F.lit("cluster_cap").alias("branch"),
        docs["doc_id"],
        "source",
        "lang",
        "n_chars",
        F.col("cluster_rank").alias("n_docs"),
        F.col("own_cosine").alias("weight"),
    )
    # branch='shard' (round 10, operators/splits.py shuffled_shards):
    # the training-order last mile — deterministic md5-keyed corpus
    # shuffle into 8 hash-mod shards with a replayable within-shard
    # position. n_docs = pos, weight = shard id.
    from travelpulse_spark_stream_tourism_analytics_spark.operators.splits import (
        shuffled_shards,
    )

    sharded = shuffled_shards(
        docs.select("doc_id", "source", "lang", "n_chars"),
        n_shards=8,
        seed="e1",
    ).select(
        F.lit("shard").alias("branch"),
        "doc_id",
        "source",
        "lang",
        "n_chars",
        F.col("pos").alias("n_docs"),
        F.col("shard").cast("double").alias("weight"),
    )
    return (
        sample.unionByName(mixture)
        .unionByName(budget)
        .unionByName(es)
        .unionByName(tw)
        .unionByName(cluster_cap)
        .unionByName(sharded)
    )


@query(
    "docs_top_terms",
    oracle=f"""
    WITH terms AS (
        SELECT doc_id, unnest({_WORDS_SQL.format(c="text")}) AS term
        FROM documents
    ),
    term_branch AS (
        SELECT 'term' AS branch, term, NULL::BIGINT AS doc_id,
               n_occurrences, n_docs, NULL::DOUBLE AS score
        FROM (
            SELECT term,
                   count(*) AS n_occurrences,
                   count(DISTINCT doc_id) AS n_docs,
                   row_number() OVER (
                       ORDER BY count(*) DESC, term
                   ) AS rn
            FROM terms
            GROUP BY term
        )
        WHERE rn <= 50
    ),
    ng AS (
        SELECT doc_id,
               unnest(list_distinct({_NGRAMS3_SQL.format(w="toks")})) AS ng
        FROM (
            SELECT doc_id, {_WORDS_SQL.format(c="text")} AS toks
            FROM documents
        )
    ),
    contam_branch AS (
        SELECT 'contam' AS branch, NULL::VARCHAR AS term, t.doc_id,
               count(DISTINCT t.ng) AS n_occurrences,
               count(DISTINCT e.doc_id) AS n_docs, NULL::DOUBLE AS score
        FROM ng t
        JOIN ng e ON e.ng = t.ng AND e.doc_id < 20
        WHERE t.doc_id >= 20
        GROUP BY t.doc_id
    ),
    tf AS (
        SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2
    ),
    dfx AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
    nn AS (SELECT count(DISTINCT doc_id)::DOUBLE AS n FROM documents),
    tfidf_branch AS (
        SELECT 'tfidf' AS branch, term, doc_id,
               tf AS n_occurrences, df AS n_docs, tfidf AS score
        FROM (
            SELECT tf.doc_id, tf.term, tf.tf, dfx.df,
                   round(tf.tf * ln((nn.n + 1) / (dfx.df + 1.0)), 6)
                       AS tfidf,
                   row_number() OVER (
                       PARTITION BY tf.doc_id
                       ORDER BY round(tf.tf * ln((nn.n + 1)
                                      / (dfx.df + 1.0)), 6) DESC, tf.term
                   ) AS rank
            FROM tf JOIN dfx ON tf.term = dfx.term, nn
        ) WHERE rank <= 3
    ),
    lm_counts AS (
        SELECT term, count(*) AS n FROM terms WHERE doc_id < 100
        GROUP BY term
    ),
    lm_tot AS (
        SELECT sum(n)::DOUBLE + 0.5 * (count(*)::DOUBLE + 1.0) AS denom
        FROM lm_counts
    ),
    lm AS (
        SELECT term, ln((n + 0.5) / lm_tot.denom) AS logp
        FROM lm_counts, lm_tot
    ),
    lm_branch AS (
        SELECT 'lm' AS branch, NULL::VARCHAR AS term, doc_id,
               count(*) AS n_occurrences, NULL::BIGINT AS n_docs,
               round(-avg(logp), 6) AS score
        FROM (
            SELECT t.doc_id,
                   coalesce(lm.logp, ln(0.5 / lm_tot.denom)) AS logp
            FROM terms t LEFT JOIN lm ON t.term = lm.term, lm_tot
        )
        GROUP BY doc_id
    ),
    -- CCNet perplexity bucketing (round 5): head/middle/tail by the
    -- exact NLL terciles of the lm branch (quantile_cont matches
    -- Spark percentile bit-exactly, as pinned by the PSI grains);
    -- boundary docs land LEFT (<= edge).
    ppl_edges AS (
        SELECT quantile_cont(score, 1.0/3) AS q1,
               quantile_cont(score, 2.0/3) AS q2
        FROM lm_branch
    ),
    ppl_branch AS (
        SELECT 'ppl_bucket' AS branch,
               CASE WHEN score <= q1 THEN 'head'
                    WHEN score <= q2 THEN 'middle'
                    ELSE 'tail' END AS term,
               doc_id, n_occurrences, NULL::BIGINT AS n_docs, score
        FROM lm_branch, ppl_edges
    ),
    -- DSIR importance weighting (round 5): mean per-token
    -- log-likelihood ratio of the trusted-target LM (doc_id < 100)
    -- over the raw whole-corpus LM, unknown slots coalesced per LM.
    raw_counts AS (
        SELECT term, count(*) AS n FROM terms GROUP BY term
    ),
    raw_tot AS (
        SELECT sum(n)::DOUBLE + 0.5 * (count(*)::DOUBLE + 1.0) AS denom
        FROM raw_counts
    ),
    raw_lm AS (
        SELECT term, ln((n + 0.5) / raw_tot.denom) AS logp
        FROM raw_counts, raw_tot
    ),
    dsir_branch AS (
        SELECT 'dsir' AS branch, NULL::VARCHAR AS term, doc_id,
               count(*) AS n_occurrences, NULL::BIGINT AS n_docs,
               round(avg(tl - rl), 6) AS score
        FROM (
            SELECT t.doc_id,
                   coalesce(lm.logp, ln(0.5 / lm_tot.denom)) AS tl,
                   coalesce(r.logp, ln(0.5 / raw_tot.denom)) AS rl
            FROM terms t
            LEFT JOIN lm ON t.term = lm.term
            LEFT JOIN raw_lm r ON t.term = r.term, lm_tot, raw_tot
        )
        GROUP BY doc_id
    ),
    -- Trainable language ID (round 5, Cavnar-Trenkle): profiles from
    -- the labeled seed half (doc_id < 250), out-of-place distance
    -- classification of the rest — rank windows, the flat top_k=100
    -- absent penalty, and the (distance, lang) argmin all replayed.
    lid_pc AS (
        SELECT lang, g AS ngram, count(*) AS cnt
        FROM (
            SELECT lang,
                   '_' || regexp_replace(lower(text), '\\s+', '_', 'g')
                       || '_' AS t
            FROM documents WHERE doc_id < 250
        ), unnest(CASE WHEN length(t) >= 3 THEN
                list_transform(generate_series(1, length(t) - 2),
                               i -> substr(t, i, 3))
                ELSE [] END) u(g)
        GROUP BY ALL
    ),
    lid_prof AS (
        SELECT lang, ngram, rank FROM (
            SELECT lang, ngram, row_number() OVER (
                PARTITION BY lang ORDER BY cnt DESC, ngram
            ) AS rank FROM lid_pc
        ) WHERE rank <= 100
    ),
    lid_dc AS (
        SELECT doc_id, g AS ngram, count(*) AS cnt
        FROM (
            SELECT doc_id,
                   '_' || regexp_replace(lower(text), '\\s+', '_', 'g')
                       || '_' AS t
            FROM documents WHERE doc_id >= 250
        ), unnest(CASE WHEN length(t) >= 3 THEN
                list_transform(generate_series(1, length(t) - 2),
                               i -> substr(t, i, 3))
                ELSE [] END) u(g)
        GROUP BY ALL
    ),
    lid_dr AS (
        SELECT doc_id, ngram, dr FROM (
            SELECT doc_id, ngram, row_number() OVER (
                PARTITION BY doc_id ORDER BY cnt DESC, ngram
            ) AS dr FROM lid_dc
        ) WHERE dr <= 100
    ),
    lid_dist AS (
        SELECT x.doc_id, x.lang,
               sum(CASE WHEN p.rank IS NOT NULL
                        THEN abs(x.dr - p.rank)
                        ELSE 100 END) AS distance
        FROM (
            SELECT d.doc_id, d.ngram, d.dr, l.lang
            FROM lid_dr d CROSS JOIN
                 (SELECT DISTINCT lang FROM lid_prof) l
        ) x
        LEFT JOIN lid_prof p ON p.lang = x.lang AND p.ngram = x.ngram
        GROUP BY 1, 2
    ),
    lid_win AS (
        SELECT doc_id, lang, distance FROM (
            SELECT *, row_number() OVER (
                PARTITION BY doc_id ORDER BY distance ASC, lang ASC
            ) AS rn FROM lid_dist
        ) WHERE rn = 1
    ),
    langid_branch AS (
        SELECT 'langid' AS branch, w.lang AS term, q.doc_id,
               NULL::BIGINT AS n_occurrences, NULL::BIGINT AS n_docs,
               w.distance::DOUBLE AS score
        FROM (SELECT doc_id FROM documents WHERE doc_id >= 250) q
        LEFT JOIN lid_win w ON w.doc_id = q.doc_id
    ),
    -- Count-min sketch contract (round 5): for the exact top-20 terms
    -- the engine must report the true count AND score=1.0, where the
    -- engine's score is computed FROM THE SKETCHES: 1.0 iff the
    -- whole-corpus sketch estimate is within [true, true + eps*N] and
    -- equals the associative merge of the per-source sketches (the
    -- pure-Python, Connect-safe reader). The oracle pins the verdict;
    -- any regression in the sketch agg, the wire-format parse, the
    -- murmur bucketing, or the merge flips score to 0.0 and the row
    -- red. (Estimates are seed-deterministic, so the verdict is a
    -- constant of the corpus, not a flaky probability.)
    cms_branch AS (
        SELECT 'cmsketch' AS branch, term, NULL::BIGINT AS doc_id,
               n_occurrences, NULL::BIGINT AS n_docs, 1.0 AS score
        FROM (
            SELECT term, count(*) AS n_occurrences,
                   row_number() OVER (ORDER BY count(*) DESC, term) AS rn
            FROM terms GROUP BY term
        ) WHERE rn <= 20
    ),
    -- BPE trainer round-1 pair counts (round 5, operators/bpe.py):
    -- the occurrence-weighted adjacent CHARACTER-pair aggregation that
    -- drives merge selection — top-20 with the trainer's exact
    -- (count desc, pair) tiebreak. Later rounds operate on merged
    -- multi-char symbols (iterative, no SQL twin); they are pinned
    -- against a pure-Python reference trainer in tests/test_bpe.py.
    bpe_branch AS (
        SELECT 'bpe_pair' AS branch, pair AS term, NULL::BIGINT AS doc_id,
               cnt AS n_occurrences, NULL::BIGINT AS n_docs,
               NULL::DOUBLE AS score
        FROM (
            SELECT pair, cnt,
                   row_number() OVER (ORDER BY cnt DESC, pair) AS rn
            FROM (
                SELECT substr(term, i, 2) AS pair, count(*) AS cnt
                FROM terms,
                     unnest(generate_series(1, length(term) - 1)) t(i)
                GROUP BY 1
            )
        ) WHERE rn <= 20
    ),
    -- BM25 retrieval (round 10): postings from the shared tf/dfx
    -- CTEs; doc lengths + corpus stats; Lucene-variant non-negative
    -- idf; per-term contributions rounded 1e-6 and summed as DECIMAL
    -- (summation-order independent, the engine's exact convention)
    dlx AS (
        SELECT doc_id, len({_WORDS_SQL.format(c="text")}) AS dl
        FROM documents
    ),
    bstats AS (
        SELECT count(*)::DOUBLE AS n,
               sum(dl)::DOUBLE / count(*) AS avgdl
        FROM dlx
    ),
    bm25_q AS (
        SELECT query_id,
               unnest(list_distinct({_WORDS_SQL.format(c="query_text")}))
                   AS term
        FROM (VALUES (0, 'spark hash join'), (1, 'dup window sort'),
                     (2, 'slow scan batch query'))
             AS t(query_id, query_text)
    ),
    bm25_contrib AS (
        SELECT q.query_id, tf.doc_id,
               round(ln(1 + (bstats.n - dfx.df + 0.5)
                            / (dfx.df + 0.5))
                     * ((tf.tf * 2.2)
                        / (tf.tf + 1.2 * (0.25
                           + 0.75 * dlx.dl / bstats.avgdl))),
                     6) AS c
        FROM tf
        JOIN dfx USING (term)
        JOIN dlx USING (doc_id)
        JOIN bm25_q q ON q.term = tf.term, bstats
    ),
    bm25_scored AS (
        SELECT query_id, doc_id, count(*) AS nmatch,
               round(sum(c::DECIMAL(20,6))::DOUBLE, 6) AS score
        FROM bm25_contrib GROUP BY 1, 2
    ),
    bm25_branch AS (
        SELECT 'bm25' AS branch, 'q' || query_id::VARCHAR AS term, doc_id,
               nmatch AS n_occurrences, rank AS n_docs, score
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY score DESC, doc_id
            ) AS rank FROM bm25_scored
        ) WHERE rank <= 10
    ),
    -- RRF hybrid retrieval (round 10): query-by-example with docs
    -- 0-2 — BM25 over the query doc's terms (top-11, self dropped,
    -- re-ranked to 10) fused with exact cosine top-10 of the matching
    -- embedding at k0=60; contributions are exact small-integer
    -- divisions rounded 1e-6, summed as DECIMAL
    rrf_qt AS (
        SELECT doc_id AS query_id,
               unnest(list_distinct({_WORDS_SQL.format(c="text")})) AS term
        FROM documents WHERE doc_id < 3
    ),
    rrf_contrib AS (
        SELECT q.query_id, tf.doc_id,
               round(ln(1 + (bstats.n - dfx.df + 0.5)
                            / (dfx.df + 0.5))
                     * ((tf.tf * 2.2)
                        / (tf.tf + 1.2 * (0.25
                           + 0.75 * dlx.dl / bstats.avgdl))),
                     6) AS c
        FROM tf
        JOIN dfx USING (term)
        JOIN dlx USING (doc_id)
        JOIN rrf_qt q ON q.term = tf.term, bstats
    ),
    rrf_lex_scored AS (
        SELECT query_id, doc_id,
               round(sum(c::DECIMAL(20,6))::DOUBLE, 6) AS score
        FROM rrf_contrib GROUP BY 1, 2
    ),
    rrf_lex AS (
        SELECT query_id, doc_id, rank FROM (
            SELECT query_id, doc_id, row_number() OVER (
                PARTITION BY query_id ORDER BY score DESC, doc_id
            ) AS rank
            FROM (
                SELECT * FROM (
                    SELECT *, row_number() OVER (
                        PARTITION BY query_id
                        ORDER BY score DESC, doc_id
                    ) AS r0 FROM rrf_lex_scored
                ) WHERE r0 <= 11
            ) WHERE doc_id <> query_id
        ) WHERE rank <= 10
    ),
    rrf_vec AS (
        SELECT query_id, doc_id, rank FROM (
            SELECT query_id, vec_id AS doc_id,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY cosine DESC, vec_id
                   ) AS rank
            FROM (
                SELECT q.query_id, b.vec_id,
                       round(list_dot_product(q.qv, b.v)
                             / (sqrt(list_dot_product(q.qv, q.qv))
                                * sqrt(list_dot_product(b.v, b.v))),
                             6) AS cosine
                FROM (SELECT vec_id AS query_id,
                             embedding::DOUBLE[] AS qv
                      FROM embeddings WHERE vec_id < 3) q,
                     (SELECT vec_id, embedding::DOUBLE[] AS v
                      FROM embeddings) b
                WHERE b.vec_id <> q.query_id
            )
        ) WHERE rank <= 10
    ),
    rrf_union AS (
        SELECT query_id, doc_id,
               round(1.0 / (60 + rank), 6) AS c FROM rrf_lex
        UNION ALL
        SELECT query_id, doc_id,
               round(1.0 / (60 + rank), 6) AS c FROM rrf_vec
    ),
    rrf_fused AS (
        SELECT query_id, doc_id, count(*) AS n_systems,
               round(sum(c::DECIMAL(20,6))::DOUBLE, 6) AS score
        FROM rrf_union GROUP BY 1, 2
    ),
    rrf_branch AS (
        SELECT 'rrf' AS branch, 'q' || query_id::VARCHAR AS term, doc_id,
               n_systems AS n_occurrences, rank AS n_docs, score
        FROM (
            SELECT *, row_number() OVER (
                PARTITION BY query_id ORDER BY score DESC, doc_id
            ) AS rank FROM rrf_fused
        ) WHERE rank <= 10
    )
    SELECT * FROM term_branch
    UNION ALL
    SELECT * FROM contam_branch
    UNION ALL
    SELECT * FROM tfidf_branch
    UNION ALL
    SELECT * FROM lm_branch
    UNION ALL
    SELECT * FROM ppl_branch
    UNION ALL
    SELECT * FROM dsir_branch
    UNION ALL
    SELECT * FROM langid_branch
    UNION ALL
    SELECT * FROM cms_branch
    UNION ALL
    SELECT * FROM bpe_branch
    UNION ALL
    SELECT * FROM bm25_branch
    UNION ALL
    SELECT * FROM rrf_branch
    """,
)
def docs_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged vocabulary + benchmark-decontamination report.

    branch='term' — global heavy hitters: corpus-wide term frequency +
    document frequency, top-50 with a deterministic term tiebreak. The
    vocabulary/stopword-discovery primitive of every text pipeline.
    Explode is map-side; the groupBy shuffles once on term with
    partial aggregation, and the top-50 is TakeOrderedAndProject over
    the (small) per-term aggregate — no global sort. At skewed corpora
    the term key can be salted (operators/skew.py) without changing
    results.

    branch='tfidf' — per-document distinctive terms (round 4,
    operators/keywords.py tfidf_top_keywords): top-3 terms per doc by
    smoothed tf*idf, score rounded at 1e-6 before ranking with a term
    tiebreak. tf is one (doc, term) shuffle with map-side combine; the
    vocabulary-sized df side broadcasts; the top-k window partitions
    per doc, never globally.

    branch='lm' — unigram-LM fluency scoring (round 4,
    operators/lm.py, the CCNet shape): the LM trains in one
    aggregation over the trusted seed corpus (doc_id < 100,
    add-0.5 smoothing, an unknown-term slot), broadcasts the
    vocabulary like a dimension, and every document gets its mean
    per-token negative log-likelihood (score; n_occurrences = tokens
    scored). Swapping KenLM in changes only the scorer.

    branch='ppl_bucket' — CCNet perplexity bucketing (round 5,
    operators/lm.py ppl_buckets, Wenzek et al. 2020): head/middle/tail
    by exact NLL terciles of the lm branch; CCNet keeps head+middle
    and rejects tail. Edges ride as a broadcast 1-row aggregate.

    branch='dsir' — DSIR importance weighting (round 5,
    operators/lm.py importance_weights, Xie et al. 2023): mean
    per-token log-likelihood ratio of the trusted-target LM
    (doc_id < 100) over the raw whole-corpus LM — the data-selection
    score whose exp() is the importance-resampling weight. One token
    pass against both broadcast vocabularies.

    branch='langid' — trainable language ID (round 5,
    operators/langid.py, Cavnar & Trenkle 1994): rank-order
    char-3-gram profiles trained on the labeled seed half
    (doc_id < 250), every remaining doc classified by out-of-place
    distance (term = predicted lang, score = distance); profiles are
    a broadcast-sized dimension, classification is one distance
    shuffle.

    branch='contam' — n-gram benchmark contamination (round 3): flag
    every training doc (doc_id >= 20) sharing a distinct word 3-gram
    with the held-out eval set (doc_id < 20), with n_occurrences =
    shared distinct 3-grams and n_docs = distinct eval docs matched.
    The eval side is tiny by construction (a benchmark suite), so its
    hashed n-grams BROADCAST; the train side explodes map-side and
    aggregates with one shuffle on doc_id. 3-grams are the
    fixture-scale knob — production decontamination uses 8-13-gram
    hashes, same plan shape (the md5 join key keeps rows narrow either
    way).

    branch='bm25' — full-text retrieval (round 10,
    operators/retrieval.py bm25_rank): per-query BM25 top-10 for
    three fixed keyword queries, Lucene-variant non-negative idf,
    1e-6-rounded per-term contributions summed as DECIMAL. Postings
    are the same (doc, term) shuffle tf-idf pays; queries broadcast.

    branch='rrf' — hybrid lexical+vector retrieval (round 10,
    operators/retrieval.py rrf_fuse, Cormack et al. 2009):
    query-by-example with docs 0-2, BM25 over the query doc's terms
    (self excluded) fused with exact cosine top-10 of the matching
    embedding at k0=60 — rank-only fusion, no score calibration. The
    fusion join is (queries x top_n x systems)-bounded regardless of
    corpus size."""
    docs = load_table(spark, sf_dir, "documents")
    # Shared tokenize (round 11, VERDICT r10 item 1): the ~11
    # word-token branches (term agg, tfidf, both unigram LMs, DSIR
    # scoring, both count-min sketches, BM25 x2, BPE pairs, contam
    # windows) each re-tokenized the corpus inside their own union
    # subtree — at sf0.1 the concurrent scans hid the cost, but at
    # 100 TB that is ~11 redundant decode+tokenize passes over the
    # corpus, the worst scan amplification in the catalog. Materialize
    # ``(doc_id, source, __toks)`` ONCE behind a scoped_persist
    # (MEMORY_AND_DISK — at scale this is the tokenized corpus, which
    # spills rather than OOMs; it replaces 11 full corpus scans) and
    # pass it into every branch constructor via the operators'
    # ``tokens_col`` contract (the ``spans=`` sharing precedent).
    # repair_coarse_scan widens the single-row-group local fixture so
    # the one tokenize pass is not serialized onto one core; on any
    # real multi-row-group layout it is a no-op. The count() barrier
    # materializes the cache BEFORE the threaded eager builders start
    # (the graph_rank_entities lesson: concurrent first readers race
    # to populate a lazy cache and duplicate the tokenize work).
    # Tokens are byte-identical to each branch's former inline
    # ``words_of(text)`` — oracle-pinned at sf0.01/sf0.001.
    # Branches NOT on word tokens keep their own scans: langid (char
    # 3-gram profiles of raw text), qdocs/rrf (raw query text +
    # embeddings).
    toks_rel = scoped_persist(
        repair_coarse_scan(
            spark, docs, f"{sf_dir}/documents.parquet", min_rows=2000
        ).select("doc_id", "source", words_of(F.col("text")).alias("__toks")),
        "text.top_terms.tokens",
    )
    toks_rel.count()
    terms = toks_rel.select(
        "doc_id", F.explode(F.col("__toks")).alias("term")
    )
    agg = terms.groupBy("term").agg(
        F.count("*").alias("n_occurrences"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    top = (
        agg.orderBy(F.desc("n_occurrences"), F.asc("term"))
        .limit(50)
        .select(
            F.lit("term").alias("branch"),
            "term",
            F.lit(None).cast("long").alias("doc_id"),
            "n_occurrences",
            "n_docs",
            F.lit(None).cast("double").alias("score"),
        )
    )
    from travelpulse_spark_stream_tourism_analytics_spark.operators.keywords import (
        tfidf_top_keywords,
    )
    from travelpulse_spark_stream_tourism_analytics_spark.operators import (
        lm as lm_ops,
    )
    from travelpulse_spark_stream_tourism_analytics_spark.operators.lm import (
        lm_score_docs,
        unigram_lm,
    )
    from travelpulse_spark_stream_tourism_analytics_spark.operators.retrieval import (
        bm25_rank,
        rrf_fuse,
    )
    from travelpulse_spark_stream_tourism_analytics_spark.operators.sketches import (
        merge_sketches,
        read_sketch,
        term_count_sketches,
    )

    eps = 0.001
    bm25_queries = spark.createDataFrame(
        [(0, "spark hash join"), (1, "dup window sort"),
         (2, "slow scan batch query")],
        "query_id long, query_text string",
    )
    qdocs = docs.filter(F.col("doc_id") < 3).select(
        F.col("doc_id").alias("query_id"), F.col("text").alias("query_text")
    )

    # Built on threads (build_arms): the unigram-LM vocabulary
    # collects, BM25 corpus stats, both count-min sketch builds, the
    # exact top-20 collect and tf-idf's doc count run EAGER jobs at
    # build time, ~5-6 s at sf0.1 when serial.
    built = build_arms("docs_top_terms", {
        "tfidf": lambda: tfidf_top_keywords(
            toks_rel, top_k=3, tokens_col="__toks"
        ),
        "target_lm": lambda: unigram_lm(
            toks_rel.filter(F.col("doc_id") < 100), tokens_col="__toks"
        ),
        "raw_lm": lambda: unigram_lm(toks_rel, tokens_col="__toks"),
        "cms_per_source": lambda: term_count_sketches(
            toks_rel, "source", eps=eps, seed=42, tokens_col="__toks"
        ).collect(),
        "cms_whole": lambda: term_count_sketches(
            toks_rel.withColumn("source", F.lit("all")), "source",
            eps=eps, seed=42, tokens_col="__toks",
        ).collect(),
        "cms_top20": lambda: (
            agg.orderBy(F.desc("n_occurrences"), F.asc("term"))
            .limit(20).collect()
        ),
        "bm25": lambda: bm25_rank(
            toks_rel, bm25_queries, top_n=10, tokens_col="__toks"
        ),
        "lex_bm25": lambda: bm25_rank(
            toks_rel, qdocs, top_n=11, tokens_col="__toks"
        ),
    })

    tfidf = built["tfidf"].select(
        F.lit("tfidf").alias("branch"),
        "term",
        "doc_id",
        F.col("tf").alias("n_occurrences"),
        F.col("df").alias("n_docs"),
        F.col("tfidf").alias("score"),
    )
    target_lm = built["target_lm"]
    scored = lm_score_docs(toks_rel, target_lm, tokens_col="__toks")
    lm = scored.select(
        F.lit("lm").alias("branch"),
        F.lit(None).cast("string").alias("term"),
        "doc_id",
        F.col("n_scored_tokens").alias("n_occurrences"),
        F.lit(None).cast("long").alias("n_docs"),
        F.col("nll").alias("score"),
    )
    # CCNet perplexity bucketing (round 5): head/middle/tail by exact
    # NLL terciles — the keep/reject split CCNet applies after LM
    # scoring; edges ride as a broadcast 1-row aggregate.
    ppl = lm_ops.ppl_buckets(scored).select(
        F.lit("ppl_bucket").alias("branch"),
        F.col("ppl_bucket").alias("term"),
        "doc_id",
        F.col("n_scored_tokens").alias("n_occurrences"),
        F.lit(None).cast("long").alias("n_docs"),
        F.col("nll").alias("score"),
    )
    # Trainable language ID (round 5, Cavnar-Trenkle): rank-order
    # char-3-gram profiles from the labeled seed half, out-of-place
    # distance classification of the rest.
    from travelpulse_spark_stream_tourism_analytics_spark.operators.langid import (
        classify_language,
        train_language_profiles,
    )

    # langid works on raw CHARACTER 3-grams, so it cannot ride the
    # shared word-token cache — but its per-row work (explode ~L
    # substrings per doc + partial agg) is the entry's exec-side
    # critical path (branch-isolated A/B at sf0.1: 4.4-5.0 s exec vs
    # <= 2 s for every other branch), and on the single-row-group
    # local fixture it all ran as ONE scan task. Widen the scan for
    # both legs (no-op on any real multi-row-group layout).
    docs_wide = repair_coarse_scan(
        spark, docs, f"{sf_dir}/documents.parquet", min_rows=2000
    )
    lid_prof = train_language_profiles(
        docs_wide.filter(F.col("doc_id") < 250).select("lang", "text"),
        top_k=100,
    )
    langid = classify_language(
        docs_wide.filter(F.col("doc_id") >= 250), lid_prof, top_k=100
    ).select(
        F.lit("langid").alias("branch"),
        F.col("lang").alias("term"),
        "doc_id",
        F.lit(None).cast("long").alias("n_occurrences"),
        F.lit(None).cast("long").alias("n_docs"),
        F.col("distance").cast("double").alias("score"),
    )
    # DSIR importance weighting (round 5): mean per-token log-ratio of
    # the trusted-target LM over the whole-corpus raw LM — one token
    # pass against both broadcast vocabularies.
    dsir = lm_ops.importance_weights(
        toks_rel, target_lm, built["raw_lm"], tokens_col="__toks"
    ).select(
        F.lit("dsir").alias("branch"),
        F.lit(None).cast("string").alias("term"),
        "doc_id",
        F.col("n_scored_tokens").alias("n_occurrences"),
        F.lit(None).cast("long").alias("n_docs"),
        F.col("log_ratio").alias("score"),
    )

    # branch='contam' now rides the GENERIC operator
    # (operators/quality.py ngram_decontaminate, late round 10 — the
    # eval suite broadcasts as distinct window hashes, the train side
    # repartitions to cluster width before the per-row ngram+md5
    # projection; identical counts to the former inline form). n=3 at
    # fixture scale; production default is the GPT-3 13-gram.
    from travelpulse_spark_stream_tourism_analytics_spark.operators.quality import (
        ngram_decontaminate,
    )

    contam = ngram_decontaminate(
        toks_rel.filter(F.col("doc_id") >= 20),
        toks_rel.filter(F.col("doc_id") < 20),
        "doc_id",
        "text",
        n=3,
        tokens_col="__toks",
    ).select(
        F.lit("contam").alias("branch"),
        F.lit(None).cast("string").alias("term"),
        "doc_id",
        F.col("n_shared_ngrams").alias("n_occurrences"),
        F.col("n_eval_docs").alias("n_docs"),
        F.lit(None).cast("double").alias("score"),
    )
    # branch='cmsketch' (round 5, operators/sketches.py): for the
    # exact top-20 terms, score=1.0 iff the whole-corpus count-min
    # estimate respects the CM contract [true, true + eps*N] AND
    # equals the associative merge of the per-source sketches —
    # computed with the pure-Python wire-format reader (Connect-safe,
    # no _jvm). Sketch binaries and the 20-term list are KB-scale
    # driver-side monitoring scalars, like the IVF recall verdict.
    per_source = built["cms_per_source"]
    merged = merge_sketches([bytes(r["sketch"]) for r in per_source])
    n_total = sum(r["n_terms"] for r in per_source)
    whole = read_sketch(bytes(built["cms_whole"][0]["sketch"]))
    top20 = built["cms_top20"]
    cms_rows = []
    for r in top20:
        est_w = whole.estimate_count(r["term"])
        contract_ok = (
            r["n_occurrences"] <= est_w <= r["n_occurrences"] + eps * n_total
            and est_w == merged.estimate_count(r["term"])
        )
        cms_rows.append(
            ("cmsketch", r["term"], None, r["n_occurrences"], None,
             1.0 if contract_ok else 0.0)
        )
    cms = spark.createDataFrame(
        cms_rows,
        "branch string, term string, doc_id long, n_occurrences long, "
        "n_docs long, score double",
    )
    # branch='bpe_pair' (round 5, operators/bpe.py): the BPE trainer's
    # round-1 aggregation — occurrence-weighted adjacent char pairs
    # over the (word, count) table, through the SAME
    # adjacent_pair_counts the training loop runs each round.
    from travelpulse_spark_stream_tourism_analytics_spark.operators.bpe import (
        adjacent_pair_counts,
        chars_of,
        word_counts,
    )

    syms = word_counts(toks_rel, tokens_col="__toks").select(
        chars_of(F.col("word")).alias("syms"), "wc"
    )
    bpe = (
        adjacent_pair_counts(syms)
        .orderBy(F.desc("cnt"), F.asc("left"), F.asc("right"))
        .limit(20)
        .select(
            F.lit("bpe_pair").alias("branch"),
            F.concat("left", "right").alias("term"),
            F.lit(None).cast("long").alias("doc_id"),
            F.col("cnt").alias("n_occurrences"),
            F.lit(None).cast("long").alias("n_docs"),
            F.lit(None).cast("double").alias("score"),
        )
    )
    # branch='bm25' (round 10, operators/retrieval.py bm25_rank):
    # full-text retrieval with the Lucene-variant non-negative idf —
    # per-query BM25 top-10 for three fixed keyword queries over the
    # corpus vocabulary ('dup' is the rare high-idf discriminator).
    # term = 'q'||query_id, n_occurrences = matched query terms,
    # n_docs = rank. Postings are the SAME (doc, term) shuffle tf-idf
    # pays; queries broadcast; per-term contributions round at 1e-6
    # and sum as DECIMAL so the score is summation-order independent.
    bm25 = built["bm25"].select(
        F.lit("bm25").alias("branch"),
        F.concat(F.lit("q"), F.col("query_id").cast("string")).alias("term"),
        "doc_id",
        F.col("n_terms_matched").alias("n_occurrences"),
        F.col("rank").alias("n_docs"),
        "score",
    )
    # branch='rrf' (round 10, operators/retrieval.py rrf_fuse): hybrid
    # lexical + vector retrieval by reciprocal-rank fusion (k0=60).
    # Query-by-example with docs 0-2: the lexical ranking is BM25 over
    # the query doc's own terms (self excluded then re-ranked — fetch
    # top-11, drop self, keep 10, which equals the top-10 of the
    # corpus minus the query since at most one self row exists); the
    # vector ranking is exact cosine top-10 of the matching embedding
    # (doc_id == vec_id in this corpus). n_occurrences = systems
    # ranking the doc, n_docs = fused rank.
    rrf_w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id")
    )
    lex = (
        built["lex_bm25"]
        .filter(F.col("doc_id") != F.col("query_id"))
        .withColumn("rank", F.row_number().over(rrf_w).cast("long"))
        .filter(F.col("rank") <= 10)
        .select("query_id", "rank", "doc_id")
    )
    embr = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", similarity.as_double_vec(F.col("embedding")).alias("v")
    )
    vq = embr.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    vec_w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    vec_rank = (
        similarity.brute_force_knn(embr, vq, "vec_id", "query_id", "v", k=10)
        .withColumn("rank", F.row_number().over(vec_w).cast("long"))
        .select("query_id", "rank", F.col("neighbor_id").alias("doc_id"))
    )
    rrf = rrf_fuse([lex, vec_rank], id_col="doc_id", top_n=10).select(
        F.lit("rrf").alias("branch"),
        F.concat(F.lit("q"), F.col("query_id").cast("string")).alias("term"),
        "doc_id",
        F.col("n_systems").alias("n_occurrences"),
        F.col("rank").alias("n_docs"),
        "score",
    )
    return (
        top.unionByName(contam).unionByName(tfidf).unionByName(lm)
        .unionByName(ppl).unionByName(dsir).unionByName(langid)
        .unionByName(cms).unionByName(bpe)
        .unionByName(bm25).unionByName(rrf)
    )


_IVF_SEEDED_ORACLE = """
    WITH base AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ),
    seeds AS (
        SELECT vec_id AS cell_id, v AS sv FROM base WHERE vec_id < 8
    ),
    assigned AS (
        SELECT vec_id, v, cell_id FROM (
            SELECT b.vec_id, b.v, s.cell_id,
                   row_number() OVER (
                       PARTITION BY b.vec_id
                       ORDER BY round(list_dot_product(b.v, s.sv)
                                / (sqrt(list_dot_product(b.v, b.v))
                                   * sqrt(list_dot_product(s.sv, s.sv))), 6)
                                DESC, s.cell_id
                   ) AS rn
            FROM base b, seeds s
        ) WHERE rn = 1
    ),
    q AS (SELECT vec_id AS query_id, v AS qv FROM base WHERE vec_id < 5),
    probes AS (
        SELECT query_id, qv, cell_id FROM (
            SELECT q.query_id, q.qv, s.cell_id,
                   row_number() OVER (
                       PARTITION BY q.query_id
                       ORDER BY round(list_dot_product(q.qv, s.sv)
                                / (sqrt(list_dot_product(q.qv, q.qv))
                                   * sqrt(list_dot_product(s.sv, s.sv))), 6)
                                DESC, s.cell_id
                   ) AS rn
            FROM q, seeds s
        ) WHERE rn <= 2
    )
    SELECT query_id, neighbor_id, cosine FROM (
        SELECT p.query_id, a.vec_id AS neighbor_id,
               round(list_dot_product(p.qv, a.v)
                     / (sqrt(list_dot_product(p.qv, p.qv))
                        * sqrt(list_dot_product(a.v, a.v))), 6) AS cosine,
               row_number() OVER (
                   PARTITION BY p.query_id
                   ORDER BY round(list_dot_product(p.qv, a.v)
                            / (sqrt(list_dot_product(p.qv, p.qv))
                               * sqrt(list_dot_product(a.v, a.v))), 6)
                            DESC, a.vec_id
               ) AS rn
        FROM probes p
        JOIN assigned a ON a.cell_id = p.cell_id AND a.vec_id <> p.query_id
    ) WHERE rn <= 5
"""


def embedding_ivf_seeded_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate kNN with a *deterministic* coarse quantizer
    (the 8 lowest-id vectors as cell centroids) so the whole search —
    assignment, 2-of-8 cell probe, in-cell top-5 — is hash-checkable
    end to end. Same physical shape as production IVF: centroids are
    broadcast (tiny), assignment is map-side, candidate search touches
    only probed cells (an equi-join on cell_id instead of the all-pairs
    cross join), so compute scales with corpus/cells * n_probe. The
    KMeans-trained variant (embedding_ivf_knn) upgrades recall but its
    iterative centroids have no SQL twin."""
    from travelpulse_spark_stream_tourism_analytics_spark.operators.joins import (
        nearest_neighbor_join,
    )

    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", similarity.as_double_vec(F.col("embedding")).alias("v")
    )
    seeds = emb.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cell_id"), F.col("v").alias("sv")
    )

    def nearest_cells(df, id_col, vec_col, n):
        # reuse the generic argmin theta join; cosine negated so the
        # ascending-distance ranking picks the most similar cell
        return nearest_neighbor_join(
            df,
            seeds,
            id_col,
            distance=lambda: -similarity.cosine(F.col(vec_col), F.col("sv")),
            k=n,
            tiebreak="cell_id",
        ).drop("sv", "__dist")

    assigned = nearest_cells(emb, "vec_id", "v", 1)
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    probes = nearest_cells(queries, "query_id", "qv", 2)
    cand = probes.join(assigned, "cell_id").filter(
        F.col("vec_id") != F.col("query_id")
    )
    topw = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        cand.select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            similarity.cosine(F.col("qv"), F.col("v")).alias("cosine"),
        )
        .withColumn("__rn", F.row_number().over(topw))
        .filter(F.col("__rn") <= 5)
        .drop("__rn")
    )


# ---------------------------------------------------------------------------
# Merged catalog entries (driver scores <=50 queries; each entry below
# composes the constituent text/embedding operator plans above,
# unchanged, into one hash-checked result).
# ---------------------------------------------------------------------------


_SIMHASH_LIST_EXPR = " + ".join(
    "CASE WHEN 2 * len(list_filter(md5s, h -> "
    "(strpos('0123456789abcdef', substr(h, {p}, 1)) - 1) % 2 = 1)) > nd "
    "THEN {v} ELSE 0 END".format(p=j + 1, v=1 << j)
    for j in range(16)
)

_LANG_HITS = {
    "en_hits": " + ".join(
        f"len(regexp_extract_all(lower(text), '{b}'))" for b in _EN_BIGRAMS
    ),
    "it_hits": " + ".join(
        f"len(regexp_extract_all(lower(text), '{b}'))" for b in _IT_BIGRAMS
    ),
}


@query(
    "docs_text_profile",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, lang, text, n_chars,
               {_WORDS_SQL.format(c="text")} AS toks
        FROM documents
    ),
    arrs AS (
        SELECT doc_id, lang, text, n_chars, toks,
               {_NGRAMS3_SQL.format(w="toks")} AS ngrams,
               list_transform(generate_series(1, greatest(len(toks) - 1, 0)),
                              i -> array_to_string(toks[i:i+1], ' '))
                   AS ngrams2,
               list_transform(generate_series(1, greatest(len(toks) - 4, 0)),
                              i -> array_to_string(toks[i:i+4], ' '))
                   AS ngrams5,
               -- CRLF-safe split (not chr(10)): CRLF and LF
               -- documents must score identically (mirrors
               -- line_repetition)
               list_filter(string_split_regex(text, '\\r?\\n'),
                           x -> trim(x) <> '') AS nlines,
               length(array_to_string(toks, '')) AS wchars,
               list_transform(list_distinct(toks), w -> md5(w)) AS md5s,
               len(list_distinct(toks)) AS nd
        FROM toks
    ),
    profile AS (
        SELECT doc_id, lang, n_chars,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               CASE WHEN len(toks) > 0 THEN
                   round(length(array_to_string(toks, ''))
                         / len(toks)::DOUBLE, 6)
               END AS avg_token_len,
               CASE WHEN len(toks) > 0 THEN
                   round(len(list_filter(toks, x -> list_contains(
                             ['the', 'a', 'of', 'and', 'in', 'to', 'is'], x)))
                         / len(toks)::DOUBLE, 6)
               END AS stopword_ratio,
               CASE WHEN len(toks) > 0 THEN
                   round(least(1.0, len(toks) / 200.0)
                         * (1.0 - len(list_filter(toks, x -> list_contains(
                               ['the', 'a', 'of', 'and', 'in', 'to', 'is'], x)))
                           / len(toks)::DOUBLE), 6)
               END AS quality_score,
               CAST(len(regexp_extract_all(lower(text), '{_BPE_PATTERN}'))
                    AS BIGINT) AS n_bpe_tokens,
               CASE WHEN len(ngrams) > 0
                    THEN list_min(list_transform(ngrams, s -> md5(s)))
                    ELSE md5(text) END AS fingerprint,
               CAST({_SIMHASH_LIST_EXPR} AS BIGINT) AS simhash,
               CASE WHEN {_LANG_HITS["en_hits"]} >= {_LANG_HITS["it_hits"]}
                    THEN 'en' ELSE 'it' END AS guessed_lang,
               CASE WHEN len(ngrams) > 0
                    THEN round(1.0 - len(list_distinct(ngrams))
                               / len(ngrams)::DOUBLE, 6)
                    ELSE 0.0 END AS dup_3gram_frac,
               CASE WHEN len(toks) > 0 THEN
                   round(len(list_filter(toks,
                             x -> regexp_full_match(x, '[0-9]+')))
                         / len(toks)::DOUBLE, 6)
               END AS digit_token_frac,
               CAST({_PII_HITS_SQL} AS BIGINT) AS n_pii_hits,
               -- Gopher repetition rules (round 6): the oracle affords
               -- the naive O(k^2) count-per-distinct-ngram form; the
               -- engine computes the same masses with a sorted fold
               CASE WHEN wchars > 0 THEN round(
                   coalesce(list_max(list_transform(list_distinct(ngrams2),
                       g -> len(list_filter(ngrams2, x -> x = g))
                            * (length(g) - 1))), 0)
                   / wchars::DOUBLE, 6)
               ELSE 0.0 END AS top_2gram_char_frac,
               CASE WHEN wchars > 0 THEN round(
                   coalesce(list_sum(list_transform(list_distinct(ngrams5),
                       g -> (len(list_filter(ngrams5, x -> x = g)) - 1)
                            * (length(g) - 4))), 0)
                   / wchars::DOUBLE, 6)
               ELSE 0.0 END AS dup_5gram_char_frac,
               CASE WHEN len(nlines) > 0 THEN round(
                   (len(nlines) - len(list_distinct(nlines)))
                   / len(nlines)::DOUBLE, 6)
               ELSE 0.0 END AS dup_line_frac,
               CASE WHEN length(array_to_string(nlines, '')) > 0
                    THEN round(
                   (length(array_to_string(nlines, ''))
                    - length(array_to_string(list_distinct(nlines), '')))
                   / length(array_to_string(nlines, ''))::DOUBLE, 6)
               ELSE 0.0 END AS dup_line_char_frac,
               -- reg_domain (round 6): the engine runs the GENERIC
               -- publicsuffix.org resolver (functions/text.py
               -- registrable_domain) over a URL synthesized to hit
               -- every rule class (normal gTLD, shared ccTLD registry,
               -- PRIVATE registry, wildcard *.ck, exception !www.ck,
               -- unknown-TLD default rule); the oracle derives the
               -- expected answer INDEPENDENTLY per case from the spec
               CASE WHEN CAST(doc_id % 8 AS INT) = 4 THEN 'www.ck'
                    ELSE 't' || coalesce(toks[1], 'x') || '.' ||
                         CASE CAST(doc_id % 8 AS INT)
                              WHEN 0 THEN 'com'
                              WHEN 1 THEN 'co.uk'
                              WHEN 2 THEN 'github.io'
                              WHEN 3 THEN 'foo.ck'
                              WHEN 5 THEN 'xyz'
                              WHEN 6 THEN 'amazonaws.com'
                              WHEN 7 THEN 'gov.uk'
                         END
               END AS reg_domain
        FROM arrs
    )
    SELECT *,
           (top_2gram_char_frac <= 0.20
            AND dup_5gram_char_frac <= 0.15
            AND dup_line_frac <= 0.30
            AND dup_line_char_frac <= 0.20) AS passes_repetition,
           (n_tokens BETWEEN 5 AND 10000
            AND avg_token_len BETWEEN 2.0 AND 12.0
            AND stopword_ratio >= 0.01
            AND dup_3gram_frac <= 0.5
            AND digit_token_frac <= 0.5
            AND n_pii_hits = 0) AS passes_quality
    FROM profile
    """,
)
def docs_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged per-document text-analysis profile, the north-star text
    ops in ONE scan and one projection pipeline: token counting +
    quality scoring (length/stopword ratios), BPE-ish subword counts,
    min-hash 3-gram fingerprint, 16-bit SimHash
    (dedup.simhash16_expr — the expression form: no explode/groupBy),
    and bigram-profile language ID via per-bigram regexp_count (the
    profile bigrams all have distinct characters, so non-overlapping
    counts equal the positional counts). Round-3 additions: the
    pre-training quality-filter signals (Gopher/C4-shaped) —
    intra-document repetition as duplicate-3-gram fraction, digit-token
    fraction, PII pattern hits (functions.text.pii_count), and a
    composite ``passes_quality`` keep/drop gate over the computed
    signals. Round-6 additions: the full GOPHER REPETITION RULES (Rae
    et al. 2021 table A1) — top-2-gram and duplicated-5-gram character
    fractions (functions/text.py ngram_repetition_masses: sorted-run
    fold, O(k log k) where the naive form is O(k^2)), duplicate-line
    count/character fractions, the ``passes_repetition`` gate at
    Gopher's published thresholds, and ``reg_domain`` — the generic
    publicsuffix.org resolver (functions/text.py registrable_domain)
    over a synthesized URL whose suffix (doc_id % 8) covers every PSL
    rule class, oracled against per-case expectations the SQL twin
    derives independently from the spec. Zero shuffles, zero joins —
    the whole profile is map-side and scales embarrassingly.
    Subsumes the r1 queries docs_token_stats +
    docs_bpe_token_counts + docs_fingerprint + docs_simhash +
    docs_lang_id.

    The profile is the most expression-heavy map-side projection in
    the catalog (n-gram builds at three widths + sorted-run folds +
    ~20 regex passes per document), so it opts into the coarse-scan
    repair (plans/catalog.py repair_coarse_scan): a corpus arriving as
    fewer row groups than cores — the local single-file bench fixture
    reads as ONE task, serializing the whole profile onto one core —
    gets a round-robin repartition carrying only the pruned columns;
    on real multi-row-group data (any 100 TB layout) it is a no-op and
    the plan stays shuffle-free. min_rows=2000 because the per-row
    cost here is milliseconds, not the microseconds the 90k default is
    calibrated for (measured at sf0.1: 4.4 s -> see
    OPTIMIZATION_r10.md)."""
    docs = load_table(spark, sf_dir, "documents")
    docs = repair_coarse_scan(
        spark, docs, f"{sf_dir}/documents.parquet", min_rows=2000
    )
    stop = F.array(*[F.lit(s) for s in ["the", "a", "of", "and", "in", "to", "is"]])
    stage1 = docs.select(
        "doc_id", "lang", "n_chars", "text",
        words_of(F.col("text")).alias("toks"),
    )
    stage2 = stage1.select(
        "doc_id", "lang", "n_chars", "text", "toks",
        word_ngrams(F.col("toks"), 3).alias("ngrams"),
        F.array_distinct("toks").alias("dtoks"),
    )
    lowered = F.lower(F.col("text"))
    n_tok = F.size("toks").cast("double")
    n_stop = F.size(F.filter("toks", lambda x: F.array_contains(stop, x)))
    en_hits = sum(
        (F.regexp_count(lowered, F.lit(b)) for b in _EN_BIGRAMS), F.lit(0)
    )
    it_hits = sum(
        (F.regexp_count(lowered, F.lit(b)) for b in _IT_BIGRAMS), F.lit(0)
    )
    # n_tok-guarded ratios: unguarded division throws DIVIDE_BY_ZERO
    # under ANSI mode on an empty/punctuation-only doc (ADVICE r3);
    # zero-token docs get NULL signals and a false passes_quality.
    has_tok = F.size("toks") > 0
    profile = stage2.select(
        "doc_id",
        "lang",
        "n_chars",
        F.size("toks").cast("long").alias("n_tokens"),
        F.when(
            has_tok,
            F.round(F.length(F.concat_ws("", F.col("toks"))) / n_tok, 6),
        ).alias("avg_token_len"),
        F.when(has_tok, F.round(n_stop / n_tok, 6)).alias("stopword_ratio"),
        F.when(
            has_tok,
            F.round(
                F.least(F.lit(1.0), F.size("toks") / F.lit(200.0))
                * (F.lit(1.0) - n_stop / n_tok),
                6,
            ),
        ).alias("quality_score"),
        F.regexp_count(lowered, F.lit(_BPE_PATTERN)).cast("long").alias(
            "n_bpe_tokens"
        ),
        F.when(
            F.size("ngrams") > 0,
            F.array_min(F.transform("ngrams", lambda s: F.md5(s))),
        )
        .otherwise(F.md5("text"))
        .alias("fingerprint"),
        dedup.simhash16_expr(F.col("dtoks")).alias("simhash"),
        F.when(en_hits >= it_hits, F.lit("en"))
        .otherwise(F.lit("it"))
        .alias("guessed_lang"),
        F.when(
            F.size("ngrams") > 0,
            F.round(
                F.lit(1.0)
                - F.size(F.array_distinct("ngrams"))
                / F.size("ngrams").cast("double"),
                6,
            ),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_3gram_frac"),
        F.when(
            has_tok,
            F.round(
                F.size(F.filter("toks", lambda x: x.rlike("^[0-9]+$")))
                / n_tok,
                6,
            ),
        ).alias("digit_token_frac"),
        pii_count(F.col("text")).alias("n_pii_hits"),
        # round 6: the Gopher repetition rules (Rae et al. 2021
        # table A1) — top-2-gram / duplicated-5-gram character
        # fractions via the sorted-run fold (functions/text.py
        # ngram_repetition_masses: O(k log k) and zero shuffles where
        # the naive per-distinct-ngram count is O(k^2)), plus the
        # duplicate-line pair. The DuckDB twin affords the naive form.
        ngram_repetition_masses(F.col("toks"), 2).alias("__m2"),
        ngram_repetition_masses(F.col("toks"), 5).alias("__m5"),
        line_repetition(F.col("text")).alias("__lr"),
        F.length(F.concat_ws("", F.col("toks"))).alias("__wchars"),
        # round 6: the generic PSL resolver over a synthesized URL —
        # doc_id % 8 picks a suffix covering every rule class; the 't'
        # label prefix keeps the token from colliding with rule labels
        # (a doc whose first token is 'co' must not turn the host into
        # the bare public suffix co.uk)
        registrable_domain(
            F.concat(
                F.lit("https://t"),
                F.coalesce(
                    F.try_element_at(F.col("toks"), F.lit(1)), F.lit("x")
                ),
                F.lit("."),
                F.element_at(
                    F.array(
                        *[
                            F.lit(s)
                            for s in [
                                "com", "co.uk", "github.io", "foo.ck",
                                "www.ck", "xyz", "amazonaws.com", "gov.uk",
                            ]
                        ]
                    ),
                    (F.col("doc_id") % 8 + 1).cast("int"),
                ),
                F.lit("/p"),
            )
        ).alias("reg_domain"),
    )
    profile = profile.select(
        *[c for c in profile.columns if not c.startswith("__")],
        F.when(
            F.col("__wchars") > 0,
            F.round(F.col("__m2")["top"] / F.col("__wchars").cast("double"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("top_2gram_char_frac"),
        F.when(
            F.col("__wchars") > 0,
            F.round(F.col("__m5")["dup"] / F.col("__wchars").cast("double"), 6),
        )
        .otherwise(F.lit(0.0))
        .alias("dup_5gram_char_frac"),
        F.col("__lr")["dup_line_frac"].alias("dup_line_frac"),
        F.col("__lr")["dup_line_char_frac"].alias("dup_line_char_frac"),
    )
    # Gopher's published thresholds for the implemented signals
    profile = profile.withColumn(
        "passes_repetition",
        (F.col("top_2gram_char_frac") <= F.lit(0.20))
        & (F.col("dup_5gram_char_frac") <= F.lit(0.15))
        & (F.col("dup_line_frac") <= F.lit(0.30))
        & (F.col("dup_line_char_frac") <= F.lit(0.20)),
    )
    from travelpulse_spark_stream_tourism_analytics_spark.operators.quality import (
        passes_quality_expr,
    )

    return profile.withColumn("passes_quality", passes_quality_expr())


@query(
    "docs_minhash_neardup_pairs",
    oracle=f"""
    WITH {_SHINGLED_SQL},
    sig AS (SELECT doc_id, {_SIG_COLS} FROM shingled GROUP BY doc_id),
    bands AS ({_BANDS_SQL}),
    pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM bands a
        JOIN bands b ON a.band_idx = b.band_idx AND a.band_hash = b.band_hash
                    AND a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, count(*) AS n FROM shingled GROUP BY doc_id),
    inter AS (
        SELECT p.id_a, p.id_b, count(*) AS n_inter
        FROM pairs p
        JOIN shingled sa ON sa.doc_id = p.id_a
        JOIN shingled sb ON sb.doc_id = p.id_b AND sb.shingle = sa.shingle
        GROUP BY 1, 2
    )
    SELECT i.id_a, i.id_b,
           round(n_inter / (na.n + nb.n - n_inter)::DOUBLE, 6) AS jaccard,
           n_inter / (na.n + nb.n - n_inter)::DOUBLE >= 0.5 AS is_neardup
    FROM inter i
    JOIN sizes na ON na.doc_id = i.id_a
    JOIN sizes nb ON nb.doc_id = i.id_b
    """,
)
def docs_minhash_neardup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged MinHash near-dup pipeline: LSH(4 bands x 3 rows of
    MinHash k=12) candidate pairs — the shuffle-cheap path, banded
    equi-join, no all-pairs stage — each verified with exact n-gram
    Jaccard and flagged at the 0.5 threshold. Every candidate pair is
    emitted (with its verdict), so both the recall of the LSH stage and
    the precision of the verify stage are hash-checked. Subsumes the r1 queries
    docs_minhash_lsh_pairs + docs_neardup_jaccard."""
    corpus = _planted_docs(spark, sf_dir)
    shingled = dedup.exploded_shingles(corpus, "doc_id", "text", 3)
    sigs = dedup.minhash_signatures(shingled, "doc_id", _K_MINHASH)
    bands = dedup.lsh_bands(sigs, "doc_id", _LSH_BANDS, _LSH_ROWS)
    pairs = dedup.lsh_candidate_pairs(bands, "doc_id")
    jac = dedup.pair_jaccard(pairs, shingled, "doc_id")
    return jac.withColumn("is_neardup", F.col("jaccard") >= 0.5)


# --- Color JPEG oracle fragments (round 5) --------------------------------
# The color fixtures are MCU-constant YCbCr rasters (synth_jpeg_color):
# per MCU (mx, my) the decoded Y/Cb/Cr planes equal the closed-form
# jpeg_color_mcu constants exactly (DC quant 8), so the only float
# step the oracle must replay is the JFIF YCbCr -> RGB conversion —
# the same double expression, in the same operation order, with the
# same floor(v + 0.5) / clamp convention as decode_jpeg's vectorized
# path. Both engines then divide the exact integer channel sum by the
# pixel count, so the means match bit-for-bit.
_CJ_Y = "((3*mx + 7*my + d) % 256)"
_CJ_CB = "((5*mx + 11*my + 2*d) % 256)"
_CJ_CR = "((2*mx + 9*my + 3*d) % 256)"
_CJ_R = f"least(255, greatest(0, floor({_CJ_Y} + 1.402 * ({_CJ_CR} - 128) + 0.5)))"
_CJ_G = (
    f"least(255, greatest(0, floor({_CJ_Y} - 0.344136 * ({_CJ_CB} - 128)"
    f" - 0.714136 * ({_CJ_CR} - 128) + 0.5)))"
)
_CJ_B = f"least(255, greatest(0, floor({_CJ_Y} + 1.772 * ({_CJ_CB} - 128) + 0.5)))"
# MCU grid: even ids are 4:2:0 (16x16-pixel MCUs), odd ids 4:4:4
# (8x8); dims are closed-form in the id.
_CJ_MW = "(CASE WHEN d % 2 = 0 THEN 1 + d % 3 ELSE 1 + d % 4 END)"
_CJ_MH = "(CASE WHEN d % 2 = 0 THEN 1 + d % 2 ELSE 1 + d % 3 END)"
_CJ_MEAN = f"""floor(
                  list_sum(list_transform(
                    generate_series(0, {_CJ_MH} - 1),
                    my -> list_sum(list_transform(
                      generate_series(0, {_CJ_MW} - 1),
                      mx -> ({_CJ_R} + {_CJ_G} + {_CJ_B})))))
                  / (3.0 * {_CJ_MW} * {_CJ_MH}) * 1e6 + 0.5) / 1e6"""


# --- Acoustic fingerprint oracle fragments (round 5) ----------------------
# audio_fingerprint64 is ALL-INTEGER (Haar wavelet-packet sums and
# differences of int16 PCM, energies as sums of squares, the band-mean
# test as 16*E > total), so the oracle replays the whole fingerprint
# exactly: channel-0 samples of the WAV ramp fixtures are closed-form
# in (t, id), the four packet bands are +/- sums of sample quadruples,
# and the 64 bits fall out of integer comparisons — no float anywhere.
_AFP_CH = "(CASE WHEN doc_id % 4 = 1 THEN 1 ELSE 2 END)"
_AFP_L = "((100 + doc_id % 50) // 4)"  # per-band coeff count = ns // 4


def _afp_x(t: str) -> str:
    """Channel-0 PCM sample t of the WAV ramp fixture: interleaved
    value index t*channels in synth_wav's (i*37 + id*101) % 65536
    - 32768 ramp."""
    return f"((({t}) * {_AFP_CH} * 37 + doc_id * 101) % 65536 - 32768)"


def _afp_band(signs: tuple) -> str:
    """One wavelet-packet band as a coefficient list: coefficient i is
    the signed sum of samples 4i..4i+3 (LL=++++, LH=++--, HL=+-+-,
    HH=+--+, the 2-level Haar packet)."""
    terms = " + ".join(
        f"({s}) * {_afp_x(f'4*i + {k}')}" for k, s in enumerate(signs)
    )
    return (
        f"list_transform(generate_series(0, {_AFP_L} - 1), i -> {terms})"
    )


_AFP_BANDS = ", ".join(
    _afp_band(s)
    for s in [(1, 1, 1, 1), (1, 1, -1, -1), (1, -1, 1, -1), (1, -1, -1, 1)]
)


@query(
    "multimodal_blob_pipeline",
    oracle=f"""
    SELECT 'color_jpeg' AS branch, d AS doc_id,
           NULL::BIGINT AS n_bytes, 'image/jpeg' AS mime,
           NULL::BIGINT AS head_byte, NULL::DOUBLE AS byte_mean,
           (CASE WHEN d % 2 = 0 THEN 16 ELSE 8 END * {_CJ_MW})::BIGINT
               AS width,
           (CASE WHEN d % 2 = 0 THEN 16 ELSE 8 END * {_CJ_MH})::BIGINT
               AS height,
           3::BIGINT AS channels, NULL::BIGINT AS sample_rate,
           NULL::DOUBLE AS duration_s,
           ({_CJ_MEAN})::DOUBLE AS content_mean,
           NULL::BIGINT AS ahash64
    FROM (SELECT doc_id + 500 AS d FROM documents WHERE doc_id < 100)
    UNION ALL
    SELECT 'stub_text' AS branch, doc_id,
           octet_length(encode(text)) AS n_bytes,
           'text/plain' AS mime,
           CASE WHEN length(text) = 0 THEN -1
                ELSE ord(substr(text, 1, 1)) END::BIGINT AS head_byte,
           CASE WHEN length(text) = 0 THEN 0.0
                ELSE round(list_sum(list_transform(
                         generate_series(1, length(text)),
                         i -> ord(substr(text, i, 1))))::DOUBLE
                     / length(text), 6) END AS byte_mean,
           NULL::BIGINT AS width, NULL::BIGINT AS height,
           NULL::BIGINT AS channels, NULL::BIGINT AS sample_rate,
           NULL::DOUBLE AS duration_s, NULL::DOUBLE AS content_mean,
           NULL::BIGINT AS ahash64
    FROM documents
    UNION ALL
    -- Closed-form twin of the synth->decode round-trip: the engine
    -- builds a REAL BMP/WAV/PNG byte payload per id and parses it
    -- back with its pure-Python codecs; the oracle recomputes the
    -- header fields (and, for BMP/WAV, exact file sizes, padding
    -- included) arithmetically. content_mean is the mean DECODED
    -- pixel byte / PCM sample — for PNG that value only exists after
    -- zlib inflate + scanline unfiltering, so this row pins the full
    -- decode, not header parsing. (PNG n_bytes is NULL: the DEFLATE
    -- stream length is a zlib implementation detail, not part of the
    -- decode contract.) floor(x*1e6 + 0.5)/1e6 mirrors the engine's
    -- round6_half_up exactly (content means can be negative for PCM,
    -- where SQL round() half-away would diverge on exact ties).
    SELECT 'media' AS branch, doc_id,
           CASE WHEN doc_id >= 200 THEN NULL
                WHEN doc_id % 2 = 0
                THEN 54 + (1 + doc_id % 5)
                         * (((1 + doc_id % 7) * 3 + 3) // 4 * 4)
                ELSE 44 + (100 + doc_id % 50) * 2
                         * (CASE WHEN doc_id % 4 = 1 THEN 1 ELSE 2 END)
           END::BIGINT AS n_bytes,
           CASE WHEN doc_id >= 400 THEN 'image/gif'
                WHEN doc_id >= 300 THEN 'image/jpeg'
                WHEN doc_id >= 200 THEN 'image/png'
                WHEN doc_id % 2 = 0 THEN 'image/bmp'
                ELSE 'audio/wav' END AS mime,
           NULL::BIGINT AS head_byte, NULL::DOUBLE AS byte_mean,
           CASE WHEN doc_id >= 400 THEN 1 + doc_id % 5
                WHEN doc_id >= 300 THEN 8 * (1 + doc_id % 4)
                WHEN doc_id >= 200 THEN 1 + doc_id % 6
                WHEN doc_id % 2 = 0 THEN 1 + doc_id % 7
           END::BIGINT AS width,
           CASE WHEN doc_id >= 400 THEN 1 + doc_id % 6
                WHEN doc_id >= 300 THEN 8 * (1 + doc_id % 3)
                WHEN doc_id >= 200 THEN 1 + doc_id % 9
                WHEN doc_id % 2 = 0 THEN 1 + doc_id % 5
           END::BIGINT AS height,
           CASE WHEN doc_id >= 400 THEN 3
                WHEN doc_id >= 300 THEN 1
                WHEN doc_id >= 200 THEN 3
                WHEN doc_id % 2 = 1 THEN
                CASE WHEN doc_id % 4 = 1 THEN 1 ELSE 2 END
           END::BIGINT AS channels,
           CASE WHEN doc_id < 200 AND doc_id % 2 = 1
                THEN 8000 END::BIGINT AS sample_rate,
           CASE WHEN doc_id < 200 AND doc_id % 2 = 1
                THEN round((100 + doc_id % 50) / 8000.0, 6)
           END::DOUBLE AS duration_s,
           CASE WHEN doc_id >= 400 THEN
                -- palette GIF: pixel (x, y) is palette index
                -- (x + 3y + id) % nc with the deterministic palette
                -- channels (i*40+id, i*85+id, i*170+id) % 256 — this
                -- row pins the LZW decompression + palette lookup
                floor(
                  list_sum(list_transform(
                    generate_series(0, (1 + doc_id % 6) - 1),
                    y -> list_sum(list_transform(
                      generate_series(0, (1 + doc_id % 5) - 1),
                      x -> CAST((((x + 3*y + doc_id) % (2 + doc_id % 5))
                                     * 40 + doc_id) % 256
                                + (((x + 3*y + doc_id) % (2 + doc_id % 5))
                                     * 85 + doc_id) % 256
                                + (((x + 3*y + doc_id) % (2 + doc_id % 5))
                                     * 170 + doc_id) % 256 AS DOUBLE)))))
                  / (3.0 * (1 + doc_id % 5) * (1 + doc_id % 6))
                  * 1e6 + 0.5) / 1e6
           WHEN doc_id >= 300 THEN
                -- block-constant baseline JPEG: the DC quantizer is 8,
                -- so decode returns the source raster exactly and the
                -- decoded mean is the mean over the block grid of
                -- (3*bx + 7*by + doc_id) % 256 — this row pins the
                -- Huffman entropy decode + dequant + IDCT end to end
                floor(
                  list_sum(list_transform(
                    generate_series(0, (1 + doc_id % 3) - 1),
                    by -> list_sum(list_transform(
                      generate_series(0, (1 + doc_id % 4) - 1),
                      bx -> CAST((3*bx + 7*by + doc_id) % 256
                                 AS DOUBLE)))))
                  / ((1 + doc_id % 4) * (1 + doc_id % 3))
                  * 1e6 + 0.5) / 1e6
           WHEN doc_id >= 200 OR doc_id % 2 = 0 THEN
                -- gradient image: mean over h rows x 3w bytes of
                -- (3i + 7y + doc_id) % 256
                floor(
                  list_sum(list_transform(
                    generate_series(0,
                      (CASE WHEN doc_id >= 200 THEN 1 + doc_id % 9
                            ELSE 1 + doc_id % 5 END) - 1),
                    y -> list_sum(list_transform(
                      generate_series(0,
                        3 * (CASE WHEN doc_id >= 200 THEN 1 + doc_id % 6
                                  ELSE 1 + doc_id % 7 END) - 1),
                      i -> CAST((3*i + 7*y + doc_id) % 256 AS DOUBLE)))))
                  / (3.0
                     * (CASE WHEN doc_id >= 200 THEN 1 + doc_id % 6
                             ELSE 1 + doc_id % 7 END)
                     * (CASE WHEN doc_id >= 200 THEN 1 + doc_id % 9
                             ELSE 1 + doc_id % 5 END))
                  * 1e6 + 0.5) / 1e6
           ELSE
                -- PCM ramp: mean int16 sample (i*37 + id*101) % 65536
                -- - 32768 over n_samples * channels values
                floor(
                  list_sum(list_transform(
                    generate_series(0,
                      (100 + doc_id % 50)
                      * (CASE WHEN doc_id % 4 = 1 THEN 1 ELSE 2 END) - 1),
                    i -> CAST((i*37 + doc_id*101) % 65536 - 32768
                              AS DOUBLE)))
                  / ((100 + doc_id % 50)
                     * (CASE WHEN doc_id % 4 = 1 THEN 1 ELSE 2 END))
                  * 1e6 + 0.5) / 1e6
           END::DOUBLE AS content_mean,
           NULL::BIGINT AS ahash64
    FROM documents WHERE doc_id < 500
    UNION ALL
    -- Perceptual aHash over the decoded JPEG rasters (round 4): the
    -- block-constant gray raster NN-resamples to an 8x8 grid whose
    -- cell (r, c) is the block value at ((c*bw)//8, (r*bh)//8); bit
    -- j (row-major) is set when that cell exceeds the 8x8 mean (the
    -- mean of 64 ints over 2^6 is exactly representable, so the
    -- strict comparison is engine-stable). Bit 63 wraps to the signed
    -- int64 the banded-Hamming machinery consumes.
    SELECT 'ahash' AS branch, doc_id,
           NULL::BIGINT AS n_bytes, 'image/jpeg' AS mime,
           NULL::BIGINT AS head_byte, NULL::DOUBLE AS byte_mean,
           NULL::BIGINT AS width, NULL::BIGINT AS height,
           NULL::BIGINT AS channels, NULL::BIGINT AS sample_rate,
           NULL::DOUBLE AS duration_s, NULL::DOUBLE AS content_mean,
           list_sum(list_transform(generate_series(0, 63), j ->
               CASE WHEN small[j + 1] > list_avg(small)
                    THEN CASE WHEN j = 63
                              THEN (-9223372036854775807 - 1)
                              ELSE (1::BIGINT << j) END
                    ELSE 0 END))::BIGINT AS ahash64
    FROM (
        SELECT doc_id,
               list_transform(generate_series(0, 63), j ->
                   CAST((3 * (((j % 8) * (1 + doc_id % 4)) // 8)
                         + 7 * (((j // 8) * (1 + doc_id % 3)) // 8)
                         + doc_id) % 256 AS DOUBLE)) AS small
        FROM documents WHERE doc_id >= 300 AND doc_id < 400
    ) g
    UNION ALL
    -- Video frame-hash signatures (round 5): slot s of 4 samples
    -- source frame i = (s * n_frames) // 4 of the id's MJPEG stream;
    -- frame i is the block-constant baseline JPEG with grid
    -- (1 + (d+i) % 4, 1 + (d+i) % 3) and seed d+i, so its decoded
    -- aHash is the same closed-form block-grid resample as the
    -- 'ahash' branch with doc_id -> d+i. channels = frame_slot.
    SELECT 'vhash' AS branch, d AS doc_id,
           NULL::BIGINT AS n_bytes,
           'video/x-motion-jpeg' AS mime,
           NULL::BIGINT AS head_byte, NULL::DOUBLE AS byte_mean,
           NULL::BIGINT AS width, NULL::BIGINT AS height,
           s::BIGINT AS channels, NULL::BIGINT AS sample_rate,
           NULL::DOUBLE AS duration_s, NULL::DOUBLE AS content_mean,
           list_sum(list_transform(generate_series(0, 63), j ->
               CASE WHEN small[j + 1] > list_avg(small)
                    THEN CASE WHEN j = 63
                              THEN (-9223372036854775807 - 1)
                              ELSE (1::BIGINT << j) END
                    ELSE 0 END))::BIGINT AS ahash64
    FROM (
        SELECT d, s,
               list_transform(generate_series(0, 63), j ->
                   CAST((3 * (((j % 8) * (1 + (d + i) % 4)) // 8)
                         + 7 * (((j // 8) * (1 + (d + i) % 3)) // 8)
                         + (d + i)) % 256 AS DOUBLE)) AS small
        FROM (
            SELECT d, s, (s * (4 + d % 3)) // 4 AS i
            FROM (SELECT doc_id + 600 AS d FROM documents
                  WHERE doc_id < 100),
                 unnest(generate_series(0, 3)) t(s)
        ) slots
    ) g
    UNION ALL
    -- Acoustic fingerprint (round 5): 2-level Haar wavelet packet of
    -- the decoded channel-0 PCM -> 4 bands x 16 frames of integer
    -- energies -> bit j set when 16 * E(band j//16, frame j%16)
    -- exceeds the band total. Replayed closed-form from the WAV ramp
    -- fixtures; all arithmetic is integer, so this pins the PCM
    -- decode, the packet transform, the framing and the bit layout
    -- with zero float tolerance.
    SELECT 'afp' AS branch, doc_id,
           NULL::BIGINT AS n_bytes, 'audio/wav' AS mime,
           NULL::BIGINT AS head_byte, NULL::DOUBLE AS byte_mean,
           NULL::BIGINT AS width, NULL::BIGINT AS height,
           NULL::BIGINT AS channels, NULL::BIGINT AS sample_rate,
           NULL::DOUBLE AS duration_s, NULL::DOUBLE AS content_mean,
           list_sum(list_transform(generate_series(0, 63), j ->
               CASE WHEN 16 * fe[j // 16 + 1][j % 16 + 1]
                         > tot[j // 16 + 1]
                    THEN CASE WHEN j = 63
                              THEN (-9223372036854775807 - 1)
                              ELSE (1::BIGINT << j) END
                    ELSE 0 END))::BIGINT AS ahash64
    FROM (
        SELECT doc_id,
               list_transform(bands, b -> list_transform(
                   generate_series(0, 15), f -> coalesce(list_sum(
                       list_transform(
                           b[f * {_AFP_L} // 16 + 1
                             : (f + 1) * {_AFP_L} // 16],
                           c -> c * c)), 0))) AS fe,
               list_transform(bands, b -> coalesce(list_sum(
                   list_transform(b, c -> c * c)), 0)) AS tot
        FROM (
            SELECT doc_id, [{_AFP_BANDS}] AS bands
            FROM documents WHERE doc_id < 200 AND doc_id % 2 = 1
        ) coeffs
    ) energies
    """,
)
def multimodal_blob_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged multimodal pipeline, two branches:

    - ``stub_text``: opaque binary column + typed metadata struct
      (attach_blob) -> Arrow-batched mapInPandas feature extraction
      with the deterministic stubbed decode (operators/multimodal.py);
      the fixture corpus is pure ASCII so even the Python path gets a
      full SQL oracle.
    - ``media``: the REAL codec path (VERDICT r2 item 7) — each id
      synthesizes an actual BMP (even, < 200), WAV (odd, < 200),
      PNG (200-299) or baseline JPEG (>= 300, round 4) whose
      dimensions are closed-form in the id, and
      extract_media_features decodes the bytes back with pure-Python
      codecs: BMP stride-aware pixel read, PNG zlib inflate + all
      five scanline unfilters, WAV PCM sample decode, JPEG marker
      walk + canonical Huffman entropy decode + dequant + IDCT. The
      oracle recomputes width/height/channels/rate/duration, the
      exact BMP/WAV file sizes (stride padding included) AND the mean
      decoded pixel/sample value arithmetically — the JPEG fixtures
      are block-constant with DC quant 8, the one family a lossy
      format reproduces exactly, so the decoded mean pins the full
      entropy-decode+IDCT path. Any drift in the synthesizer, the
      header parsers, or the pixel/sample decode itself flips the row
      red. (PNG/JPEG n_bytes is nulled on both sides: compressed
      stream length is a codec artifact, not part of the decode
      contract.)
    - ``color_jpeg``: baseline COLOR YCbCr decode (round 5) — ids
      shifted +500 synthesize MCU-constant 4:2:0 (even) / 4:4:4 (odd)
      color JPEGs with distinct luma/chroma quant + Huffman tables;
      the decoded RGB means pin per-component table selection, the
      interleaved-MCU entropy decode, chroma upsampling, and the
      YCbCr->RGB float conversion against a closed-form SQL replay.
    - ``afp``: acoustic fingerprint (round 5) — the WAV family's
      decoded channel-0 PCM through audio_fingerprint64 (2-level Haar
      wavelet packet, 4 bands x 16 frames, bit = frame energy above
      band mean; Haitsma & Kalker 2002 shape, all-integer), oracled
      bit-exactly by replaying the ramp fixtures in SQL.
    - ``vhash``: video frame-hash signatures (round 5) — ids +600
      synthesize MJPEG streams with per-frame block grids;
      video_frame_ahashes samples 4 frames (decoding only those) and
      aHashes each; the oracle recomputes the sampled index and the
      closed-form block-grid aHash per (id, slot). channels carries
      frame_slot in this branch.
    """
    docs = load_table(spark, sf_dir, "documents")
    blobbed = multimodal.attach_blob(docs)
    feats = multimodal.extract_blob_features(blobbed)
    meta = blobbed.select("doc_id", F.col("meta.mime").alias("mime"))
    stub = (
        feats.join(meta, "doc_id")
        .select(
            F.lit("stub_text").alias("branch"),
            "doc_id", "n_bytes", "mime", "head_byte", "byte_mean",
            F.lit(None).cast("long").alias("width"),
            F.lit(None).cast("long").alias("height"),
            F.lit(None).cast("long").alias("channels"),
            F.lit(None).cast("long").alias("sample_rate"),
            F.lit(None).cast("double").alias("duration_s"),
            F.lit(None).cast("double").alias("content_mean"),
            F.lit(None).cast("long").alias("ahash64"),
        )
    )
    media = multimodal.extract_media_features(
        multimodal.attach_media_blob(docs.filter(F.col("doc_id") < 500))
    ).select(
        F.lit("media").alias("branch"),
        "doc_id",
        F.when(
            F.col("mime").isin("image/png", "image/jpeg", "image/gif"),
            F.lit(None).cast("long"),
        )
        .otherwise(F.col("n_bytes"))
        .alias("n_bytes"),
        "mime",
        F.lit(None).cast("long").alias("head_byte"),
        F.lit(None).cast("double").alias("byte_mean"),
        "width", "height", "channels", "sample_rate", "duration_s",
        "content_mean",
        F.lit(None).cast("long").alias("ahash64"),
    )
    # Perceptual aHash over the decoded JPEG rasters (round 4): the
    # image-fingerprint operator (multimodal.image_ahashes) driven
    # through its real decode path, oracled via the closed-form
    # block-grid resample of the synthetic rasters.
    jpeg_ids = docs.filter(
        (F.col("doc_id") >= 300) & (F.col("doc_id") < 400)
    )
    ahash = multimodal.image_ahashes(
        multimodal.attach_media_blob(jpeg_ids)
    ).select(
        F.lit("ahash").alias("branch"),
        "doc_id",
        F.lit(None).cast("long").alias("n_bytes"),
        F.lit("image/jpeg").alias("mime"),
        F.lit(None).cast("long").alias("head_byte"),
        F.lit(None).cast("double").alias("byte_mean"),
        F.lit(None).cast("long").alias("width"),
        F.lit(None).cast("long").alias("height"),
        F.lit(None).cast("long").alias("channels"),
        F.lit(None).cast("long").alias("sample_rate"),
        F.lit(None).cast("double").alias("duration_s"),
        F.lit(None).cast("double").alias("content_mean"),
        F.col("simhash").alias("ahash64"),
    )
    # Color baseline JPEG (round 5): ids shift by +500 into the color
    # family of attach_media_blob (even = 4:2:0, odd = 4:4:4), so the
    # branch drives synth -> full color decode (per-component tables,
    # interleaved MCUs, chroma upsample, YCbCr->RGB) against the
    # closed-form MCU-constant oracle.
    cj_ids = docs.filter(F.col("doc_id") < 100).select(
        (F.col("doc_id") + 500).alias("doc_id")
    )
    cjpeg = multimodal.extract_media_features(
        multimodal.attach_media_blob(cj_ids)
    ).select(
        F.lit("color_jpeg").alias("branch"),
        "doc_id",
        F.lit(None).cast("long").alias("n_bytes"),
        "mime",
        F.lit(None).cast("long").alias("head_byte"),
        F.lit(None).cast("double").alias("byte_mean"),
        "width", "height", "channels",
        F.lit(None).cast("long").alias("sample_rate"),
        F.lit(None).cast("double").alias("duration_s"),
        "content_mean",
        F.lit(None).cast("long").alias("ahash64"),
    )
    # Video frame-hash signatures (round 5): ids +600 synthesize
    # MJPEG streams whose per-frame block GRIDS vary (same-grid
    # gradient frames aHash identically, hiding the sampling), so the
    # per-slot hashes pin the uniform frame-index computation, the
    # sampled-frames-only decode, and the aHash — closed-form per
    # (id, slot). channels carries frame_slot in this branch.
    vid_ids = docs.filter(F.col("doc_id") < 100).select(
        (F.col("doc_id") + 600).alias("doc_id")
    )
    vhash = multimodal.video_frame_ahashes(
        multimodal.attach_media_blob(vid_ids), n_frames=4
    ).select(
        F.lit("vhash").alias("branch"),
        "doc_id",
        F.lit(None).cast("long").alias("n_bytes"),
        F.lit("video/x-motion-jpeg").alias("mime"),
        F.lit(None).cast("long").alias("head_byte"),
        F.lit(None).cast("double").alias("byte_mean"),
        F.lit(None).cast("long").alias("width"),
        F.lit(None).cast("long").alias("height"),
        F.col("frame_slot").alias("channels"),
        F.lit(None).cast("long").alias("sample_rate"),
        F.lit(None).cast("double").alias("duration_s"),
        F.lit(None).cast("double").alias("content_mean"),
        F.col("simhash").alias("ahash64"),
    )
    # Acoustic fingerprint (round 5): the WAV family driven through
    # the real PCM decode into audio_fingerprint64 — audio as the
    # third modality on the banded-Hamming near-dup machinery, pinned
    # bit-exactly by the all-integer wavelet-packet oracle.
    wav_ids = docs.filter(
        (F.col("doc_id") < 200) & (F.col("doc_id") % 2 == 1)
    )
    afp = multimodal.audio_fingerprints(
        multimodal.attach_media_blob(wav_ids)
    ).select(
        F.lit("afp").alias("branch"),
        "doc_id",
        F.lit(None).cast("long").alias("n_bytes"),
        F.lit("audio/wav").alias("mime"),
        F.lit(None).cast("long").alias("head_byte"),
        F.lit(None).cast("double").alias("byte_mean"),
        F.lit(None).cast("long").alias("width"),
        F.lit(None).cast("long").alias("height"),
        F.lit(None).cast("long").alias("channels"),
        F.lit(None).cast("long").alias("sample_rate"),
        F.lit(None).cast("double").alias("duration_s"),
        F.lit(None).cast("double").alias("content_mean"),
        F.col("simhash").alias("ahash64"),
    )
    return (
        stub.unionByName(media)
        .unionByName(ahash)
        .unionByName(cjpeg)
        .unionByName(afp)
        .unionByName(vhash)
    )


# --- PQ/ADC oracle fragments (round 4) -----------------------------------
# Seeded data-INDEPENDENT codebooks (4 subspaces x 8 centroids over the
# 64-dim embeddings) from the same md5-seeded stream as the LSH
# hyperplanes: the floats are plan constants, so the identical literals
# embed in both the Spark plan and the DuckDB oracle, and the whole
# encode (nearest-centroid codes) + ADC search (per-query distance
# tables, m lookups per corpus row) machinery is hash-checked. The
# k-means-FIT codebook path (similarity.pq_codebooks) has no SQL twin
# by nature (iterative); it shares this exact encode/search code and
# is value-checked against numpy in tests/test_dedup_scale.py.
_PQ_M, _PQ_K, _PQ_DIM = 4, 8, 64
_PQ_SUB = _PQ_DIM // _PQ_M
_PQ_BOOKS = similarity.seeded_pq_codebooks(
    _PQ_M, _PQ_K, _PQ_DIM, seed="tp-pq", scale=0.25
)


def _pq_dist_sql(vec: str, j: int, c: int) -> str:
    """Squared L2 of subspace j of `vec` to centroid c via the
    |a|^2 - 2ab + |b|^2 expansion (list_dot_product), rounded at 1e-6
    — the same scale the engine rounds its direct-form distances, so
    argmin/sums agree bit-exactly across the two formulations."""
    lo, hi = j * _PQ_SUB + 1, (j + 1) * _PQ_SUB
    cent = _PQ_BOOKS[j][c]
    lit = "[" + ", ".join(repr(float(x)) for x in cent) + "]"
    cnorm = repr(float((cent * cent).sum()))
    sub = f"{vec}[{lo}:{hi}]"
    return (
        f"round(list_dot_product({sub}, {sub})"
        f" - 2 * list_dot_product({sub}, {lit}) + {cnorm}, 6)"
    )


# per-subspace code: 1-based first-min index over the 8 centroid dists
_PQ_CODE_COLS = ", ".join(
    "list_position({dl}, list_min({dl})) AS c{j}".format(
        dl="[" + ", ".join(_pq_dist_sql("v", j, c) for c in range(_PQ_K)) + "]",
        j=j,
    )
    for j in range(_PQ_M)
)
_PQ_TABLE_COLS = ", ".join(
    "["
    + ", ".join(_pq_dist_sql("qv", j, c) for c in range(_PQ_K))
    + f"] AS t{j}"
    for j in range(_PQ_M)
)
_PQ_ADC_EXPR = (
    "round(" + " + ".join(f"t{j}[c{j}]" for j in range(_PQ_M)) + ", 6)"
)


@query(
    "embedding_knn_variants",
    oracle="""
    WITH base AS (
        SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    ), q AS (
        SELECT vec_id AS query_id, v AS qv FROM base WHERE vec_id < 5
    ), scored AS (
        SELECT query_id, vec_id AS neighbor_id,
               round(list_dot_product(qv, v)
                     / (sqrt(list_dot_product(qv, qv))
                        * sqrt(list_dot_product(v, v))), 6) AS cosine
        FROM q, base
        WHERE vec_id <> query_id
    )
    SELECT 'brute' AS variant, query_id, neighbor_id, cosine AS score
    FROM (
        SELECT *, row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY cosine DESC, neighbor_id
               ) AS rn
        FROM scored
    ) WHERE rn <= 5
    UNION ALL
    SELECT 'ivf_seeded' AS variant, query_id, neighbor_id, cosine AS score
    FROM ("""
    + _IVF_SEEDED_ORACLE
    + """) ivf
    UNION ALL
    SELECT 'int8_corpus' AS variant, query_id, neighbor_id, cosine AS score
    FROM (
        WITH base AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ), dq AS (
            SELECT vec_id,
                   list_transform(v, x -> round(x / s) * s) AS v
            FROM (
                SELECT vec_id, v,
                       greatest(list_max(list_transform(v, x -> abs(x))),
                                1e-12) / 127.0 AS s
                FROM base
            )
        ), q AS (
            SELECT vec_id AS query_id, v AS qv FROM base WHERE vec_id < 5
        ), scored AS (
            SELECT query_id, vec_id AS neighbor_id,
                   round(list_dot_product(qv, v)
                         / (sqrt(list_dot_product(qv, qv))
                            * sqrt(list_dot_product(v, v))), 6) AS cosine
            FROM q, dq
            WHERE vec_id <> query_id
        )
        SELECT query_id, neighbor_id, cosine
        FROM (
            SELECT *, row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id
                   ) AS rn
            FROM scored
        ) WHERE rn <= 5
    ) q8
    UNION ALL
    -- SemDedup (cluster-then-prune): vectors assigned to their
    -- max-cosine seeded centroid; inside a cluster, a vector whose
    -- cosine to an earlier member is >= 0.99 is dropped (earlier-wins,
    -- no chaining -> closed-form). Planted exact copies (vec_id +
    -- 1000000 of the 10 lowest ids) co-locate with their originals by
    -- construction and are the expected drop set.
    SELECT 'semdedup' AS variant, query_id, neighbor_id, cosine AS score
    FROM (
        WITH corpus AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            WHERE vec_id < 2000
            UNION ALL
            SELECT vec_id + 1000000 AS vec_id, embedding::DOUBLE[] AS v
            FROM embeddings WHERE vec_id < 10
        ), seeds AS (
            SELECT vec_id AS cell_id, v AS sv FROM corpus WHERE vec_id < 8
        ), assigned AS (
            SELECT vec_id, v, cell_id FROM (
                SELECT c.vec_id, c.v, s.cell_id,
                       row_number() OVER (
                           PARTITION BY c.vec_id
                           ORDER BY round(list_dot_product(c.v, s.sv)
                                    / (sqrt(list_dot_product(c.v, c.v))
                                       * sqrt(list_dot_product(s.sv, s.sv))), 6)
                                    DESC, s.cell_id
                       ) AS rn
                FROM corpus c, seeds s
            ) WHERE rn = 1
        ), close_pairs AS (
            SELECT a.vec_id AS ia, b.vec_id AS ib,
                   round(list_dot_product(a.v, b.v)
                         / (sqrt(list_dot_product(a.v, a.v))
                            * sqrt(list_dot_product(b.v, b.v))), 6) AS c
            FROM assigned a JOIN assigned b
              ON a.cell_id = b.cell_id AND a.vec_id < b.vec_id
        )
        SELECT ib AS query_id, ia AS neighbor_id, c AS cosine
        FROM (
            SELECT ib, ia, c,
                   row_number() OVER (PARTITION BY ib ORDER BY ia, c) AS rn
            FROM close_pairs WHERE c >= 0.99
        ) WHERE rn = 1
    ) sd
    UNION ALL
    -- PQ/ADC (round 4): corpus rows encoded to 4 one-byte codes
    -- (nearest seeded centroid per subspace), queries carry 4x8
    -- distance tables; approximate distance = 4 table lookups summed.
    SELECT 'pq_adc' AS variant, query_id, neighbor_id, score
    FROM (
        WITH base AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ), codes AS (
            SELECT vec_id, """
    + _PQ_CODE_COLS
    + """ FROM base
        ), q AS (
            SELECT query_id, """
    + _PQ_TABLE_COLS
    + """
            FROM (SELECT vec_id AS query_id, v AS qv FROM base
                  WHERE vec_id < 5)
        ), adc AS (
            SELECT query_id, vec_id AS neighbor_id, """
    + _PQ_ADC_EXPR
    + """ AS score
            FROM q, codes WHERE vec_id <> query_id
        )
        SELECT query_id, neighbor_id, score
        FROM (
            SELECT *, row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY score ASC, neighbor_id
                   ) AS rn
            FROM adc
        ) WHERE rn <= 5
    ) pq
    UNION ALL
    -- kNN graph (round 9): every vector of a 400-row corpus is a
    -- query; own cell = argmax-cosine seeded centroid, probes = the
    -- top-2 cells, candidates = corpus vectors whose OWN cell is
    -- probed, top-3 by (rounded cosine DESC, neighbor ASC).
    SELECT 'knn_graph' AS variant, query_id, neighbor_id, cosine AS score
    FROM (
        WITH kgbase AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            WHERE vec_id < 400
        ), kgseeds AS (
            SELECT vec_id AS cell_id, v AS sv FROM kgbase WHERE vec_id < 8
        ), kgrank AS MATERIALIZED (
            SELECT b.vec_id, b.v, s.cell_id,
                   row_number() OVER (
                       PARTITION BY b.vec_id
                       ORDER BY round(list_dot_product(b.v, s.sv)
                                / (sqrt(list_dot_product(b.v, b.v))
                                   * sqrt(list_dot_product(s.sv, s.sv))), 6)
                                DESC, s.cell_id
                   ) AS crk
            FROM kgbase b, kgseeds s
        ), kgscored AS (
            SELECT p.vec_id AS query_id, o.vec_id AS neighbor_id,
                   round(list_dot_product(p.v, o.v)
                         / (sqrt(list_dot_product(p.v, p.v))
                            * sqrt(list_dot_product(o.v, o.v))), 6) AS cosine
            FROM (SELECT vec_id, v, cell_id FROM kgrank WHERE crk <= 2) p
            JOIN (SELECT vec_id, v, cell_id FROM kgrank WHERE crk = 1) o
              ON o.cell_id = p.cell_id AND o.vec_id <> p.vec_id
        )
        SELECT query_id, neighbor_id, cosine FROM (
            SELECT *, row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id
                   ) AS rn
            FROM kgscored
        ) WHERE rn <= 3
    ) kg
    UNION ALL
    -- Two-level kNN graph (round 9): same 400-vector corpus and
    -- seeded quantizer as kg, k=2 / 3-of-8 fine probes, with EVERY
    -- coarse cell probed — the exactness contract under which the
    -- coarse-then-fine assignment equals flat IVF bit-for-bit, so the
    -- flat formulation IS the SQL twin (the narrow-coarse-probe
    -- recall trade is pytest+soak territory: the hash-stride coarse
    -- draw uses xxhash64, which DuckDB cannot replay).
    SELECT 'knn_graph_2l' AS variant, query_id, neighbor_id,
           cosine AS score
    FROM (
        WITH kgbase AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            WHERE vec_id < 400
        ), kgseeds AS (
            SELECT vec_id AS cell_id, v AS sv FROM kgbase WHERE vec_id < 8
        ), kgrank AS MATERIALIZED (
            SELECT b.vec_id, b.v, s.cell_id,
                   row_number() OVER (
                       PARTITION BY b.vec_id
                       ORDER BY round(list_dot_product(b.v, s.sv)
                                / (sqrt(list_dot_product(b.v, b.v))
                                   * sqrt(list_dot_product(s.sv, s.sv))), 6)
                                DESC, s.cell_id
                   ) AS crk
            FROM kgbase b, kgseeds s
        ), kgscored AS (
            SELECT p.vec_id AS query_id, o.vec_id AS neighbor_id,
                   round(list_dot_product(p.v, o.v)
                         / (sqrt(list_dot_product(p.v, p.v))
                            * sqrt(list_dot_product(o.v, o.v))), 6) AS cosine
            FROM (SELECT vec_id, v, cell_id FROM kgrank WHERE crk <= 3) p
            JOIN (SELECT vec_id, v, cell_id FROM kgrank WHERE crk = 1) o
              ON o.cell_id = p.cell_id AND o.vec_id <> p.vec_id
        )
        SELECT query_id, neighbor_id, cosine FROM (
            SELECT *, row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id
                   ) AS rn
            FROM kgscored
        ) WHERE rn <= 2
    ) kg2
    UNION ALL
    -- Semantic decontamination (round 9): train docs whose max cosine
    -- against ANY eval vector (vec_id < 20) reaches 0.35, witness =
    -- the best-matching eval id (lowest id on ties). Planted copies
    -- of eval ids 0-4 (+2000000) are the guaranteed contamination.
    SELECT 'semantic_contam' AS variant, query_id, neighbor_id,
           cosine AS score
    FROM (
        WITH scbase AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
        ), sceval AS (
            SELECT vec_id AS eid, v AS ev FROM scbase WHERE vec_id < 20
        ), sctrain AS (
            SELECT vec_id, v FROM scbase WHERE vec_id >= 20
            UNION ALL
            SELECT vec_id + 2000000 AS vec_id, v FROM scbase
            WHERE vec_id < 5
        ), scscored AS (
            SELECT t.vec_id AS query_id, e.eid AS neighbor_id,
                   round(list_dot_product(t.v, e.ev)
                         / (sqrt(list_dot_product(t.v, t.v))
                            * sqrt(list_dot_product(e.ev, e.ev))), 6)
                       AS cosine
            FROM sctrain t, sceval e
        )
        SELECT query_id, neighbor_id, cosine FROM (
            SELECT *, row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id
                   ) AS rn
            FROM scscored
        ) WHERE rn = 1 AND cosine >= 0.35
    ) sc
    UNION ALL
    SELECT 'filtered_pre' AS variant, query_id, neighbor_id,
           cosine AS score
    FROM (
        WITH fb AS (
            SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
            WHERE label = 2
        ), fq AS (
            SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
            FROM embeddings WHERE vec_id < 5
        ), fscored AS (
            SELECT query_id, vec_id AS neighbor_id,
                   round(list_dot_product(qv, v)
                         / (sqrt(list_dot_product(qv, qv))
                            * sqrt(list_dot_product(v, v))), 6) AS cosine
            FROM fq, fb WHERE vec_id <> query_id
        )
        SELECT query_id, neighbor_id, cosine FROM (
            SELECT *, row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id
                   ) AS rn
            FROM fscored
        ) WHERE rn <= 5
    ) fpre
    UNION ALL
    SELECT 'filtered_post' AS variant, query_id, neighbor_id,
           cosine AS score
    FROM (
        WITH pb AS (
            SELECT vec_id, label, embedding::DOUBLE[] AS v
            FROM embeddings
        ), pq2 AS (
            SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
            FROM embeddings WHERE vec_id < 5
        ), pscored AS (
            SELECT query_id, vec_id AS neighbor_id, label,
                   round(list_dot_product(qv, v)
                         / (sqrt(list_dot_product(qv, qv))
                            * sqrt(list_dot_product(v, v))), 6) AS cosine
            FROM pq2, pb WHERE vec_id <> query_id
        ), shortlist AS (
            SELECT query_id, neighbor_id, label, cosine FROM (
                SELECT *, row_number() OVER (
                           PARTITION BY query_id
                           ORDER BY cosine DESC, neighbor_id
                       ) AS rn
                FROM pscored
            ) WHERE rn <= 20
        )
        SELECT query_id, neighbor_id, cosine FROM (
            SELECT query_id, neighbor_id, cosine,
                   row_number() OVER (
                       PARTITION BY query_id
                       ORDER BY cosine DESC, neighbor_id
                   ) AS rn2
            FROM shortlist WHERE label = 2
        ) WHERE rn2 <= 5
    ) fpost
    """,
)
def embedding_knn_variants(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merged ANN catalog: brute-force cosine top-5 (the exact
    baseline — query set broadcast, corpus streamed, per-query top-k
    window), the deterministic seeded-quantizer IVF (centroids
    broadcast, 2-of-8 cell probe, in-cell top-5 — the shape that
    scales), and brute force over an int8 scalar-quantized corpus
    (similarity.quantize_int8 — the 4x-smaller storage path; search
    dequantizes on the fly), plus SemDedup-shape semantic dedup
    (similarity.semantic_dedup: cluster by max-cosine centroid, prune
    in-cluster vectors >= 0.99 cosine to an earlier member; planted
    exact copies are the drop set), plus product-quantization ADC
    search (round 4: similarity.pq_encode + pq_search_adc over the
    seeded plan-constant codebooks — codes are 4 one-byte ints per
    64-dim vector, the 32x storage path; search is m table lookups in
    pure exprs, no float vectors in the join), plus the distributed
    corpus-wide kNN GRAPH (round 9: similarity.ivf_knn_graph over a
    bounded 400-vector corpus with the seeded quantizer — every
    vector is a query, nothing collected), plus its TWO-LEVEL
    coarse-then-fine assignment path at full coarse probe width
    (round 9: similarity.two_level_knn_graph — the >200k-cell regime
    where the quantizer stays a DataFrame; exact there, so the flat
    formulation is the SQL twin), plus embedding-space
    benchmark DECONTAMINATION (round 9:
    similarity.semantic_decontaminate — the semantic complement of
    docs_top_terms' n-gram 'contam' branch; the eval suite packs into
    one broadcast row and the train side flags its argmax-cosine eval
    match in a zero-shuffle scan), plus METADATA-FILTERED vector
    search (round 10: similarity.filtered_knn — top-5 among label=2
    rows only; 'filtered_pre' applies the predicate before ranking so
    it pushes into the scan, 'filtered_post' filters a k*4 unfiltered
    shortlist and re-ranks, the index-reusing strategy whose
    may-return-fewer-than-k caveat is part of the pinned semantics).
    The metric column is ``score``: cosine for the
    knn/semdedup/knn_graph/semantic_contam/filtered branches,
    approximate squared L2 for pq_adc. Rounded to 1e-6 BEFORE ranking
    on all sides so summation-order ulps cannot flip orderings.
    Constituents: embedding_knn + embedding_ivf_seeded_knn above."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", similarity.as_double_vec(F.col("embedding")).alias("v")
    )
    qcorpus = emb.select(
        "vec_id",
        similarity.dequantize(similarity.quantize_int8(F.col("v"))).alias("v"),
    )
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("qv")
    )
    # SemDedup branch (operators/similarity.semantic_dedup): planted
    # exact copies — same corpus trick as embedding_lsh_neardups —
    # co-locate with their originals under any centroid assignment and
    # form the expected drop set; dropped rows surface as
    # (dup vec_id, its kept witness, cosine). The oracle branch pins a
    # BOUNDED 2k-vector corpus: with the 8 fixed seed centroids the
    # deterministic variant's in-cluster pair stage is O((n/8)^2) — at
    # scale the operator sizes centroids ~n/cluster_size (IVF-style,
    # see semantic_dedup docstring), but a growing corpus over a FIXED
    # 8-cell quantizer would quadratically dominate the soak (measured
    # 107 s at sf1) while testing nothing new.
    sem_base = emb.filter(F.col("vec_id") < 2000)
    planted = sem_base.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "v"
    )
    sem_corpus = sem_base.unionByName(planted)
    seeds = sem_corpus.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cell_id"), F.col("v").alias("sv")
    )
    codes = similarity.pq_encode(emb, "vec_id", "v", _PQ_BOOKS, dist_round=6)
    # knn_graph branch (round 9, VERDICT r8 item 7): the distributed
    # corpus-wide kNN graph (similarity.ivf_knn_graph — round 8's
    # flagship, previously pinned only bit-for-bit vs brute force)
    # gets a DuckDB-checked row: 400-vector corpus, the same seeded
    # 8-cell quantizer, 2-of-8 probe, top-3 per vector. EVERY corpus
    # vector is a query — no driver-side query collect.
    kg_corpus = emb.filter(F.col("vec_id") < 400)
    kg_seeds = lambda: kg_corpus.filter(F.col("vec_id") < 8).select(  # noqa: E731
        F.col("vec_id").alias("cell_id"), F.col("v").alias("sv")
    )
    # semantic_contam branch (round 9): embedding-space benchmark
    # decontamination (similarity.semantic_decontaminate — the eval
    # suite packs into ONE broadcast row; the train side is a
    # zero-shuffle scan). Eval = vec_id < 20; planted copies of eval
    # ids 0-4 (+2000000) are the guaranteed leak set; 0.35 catches the
    # organic near-neighborhood on this corpus (max organic cosine
    # 0.49) without flagging everything.
    contam_eval = emb.filter(F.col("vec_id") < 20)
    contam_train = emb.filter(F.col("vec_id") >= 20).unionByName(
        contam_eval.filter(F.col("vec_id") < 5).select(
            (F.col("vec_id") + 2000000).alias("vec_id"), "v"
        )
    )
    embl = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        similarity.as_double_vec(F.col("embedding")).alias("v"),
        "label",
    )
    # Built on threads (build_arms): five constructors run EAGER jobs
    # at build time (semantic_dedup / ivf_knn_graph centroid collects,
    # two_level's fine count + coarse collect, decontam's bounded
    # eval-size check, pq_search_adc's bounded query collect), and
    # serially the build dominated the entry's plan_build wall.
    built = build_arms("embedding_knn_variants", {
        "brute": lambda: embedding_knn(spark, sf_dir),
        "ivf": lambda: embedding_ivf_seeded_knn(spark, sf_dir),
        "int8": lambda: similarity.brute_force_knn(
            qcorpus, queries, "vec_id", "query_id", "v", k=5
        ),
        "sem": lambda: similarity.semantic_dedup(
            sem_corpus, "vec_id", "v", seeds, min_cosine=0.99
        ),
        "pq": lambda: similarity.pq_search_adc(
            codes, _PQ_BOOKS, queries, "vec_id", "query_id", k=5,
            table_round=6,
        ),
        "kg": lambda: similarity.ivf_knn_graph(
            kg_corpus, "vec_id", "v", kg_seeds(), k=3, n_probe=2
        ),
        # knn_graph_2l (round 9): the coarse-then-fine assignment path
        # (similarity.two_level_knn_graph — the quantizer stays a
        # DataFrame) at FULL coarse probe width, where it must equal
        # flat IVF bit-for-bit; k/n_probe differ from the kg branch so
        # the two paths produce distinct row sets.
        "kg2": lambda: similarity.two_level_knn_graph(
            kg_corpus, "vec_id", "v", kg_seeds(), k=2, n_probe=3,
            n_coarse_probe=10_000,  # clamps to the coarse count: exact
        ),
        "contam": lambda: similarity.semantic_decontaminate(
            contam_train, contam_eval, "vec_id", "v", min_cosine=0.35
        ),
        # filtered_pre / filtered_post (round 10,
        # similarity.filtered_knn): metadata-filtered vector search —
        # the vector-DB operation ("nearest neighbors, but only
        # label=2"). prefilter is exact over the filtered corpus (the
        # predicate pushes into the scan); postfilter reuses an
        # UNFILTERED k*4 shortlist then filters and re-ranks — the
        # index-reusing strategy whose may-return-fewer-than-k caveat
        # is part of the pinned semantics, replayed exactly by the SQL
        # twin.
        "fpre": lambda: similarity.filtered_knn(
            embl, queries, "vec_id", "query_id", F.col("label") == 2,
            vec_col="v", k=5, strategy="prefilter",
        ),
        "fpost": lambda: similarity.filtered_knn(
            embl, queries, "vec_id", "query_id", F.col("label") == 2,
            vec_col="v", k=5, strategy="postfilter", oversample=4,
        ),
    })

    brute = built["brute"].select(
        F.lit("brute").alias("variant"), "query_id", "neighbor_id",
        F.col("cosine").alias("score"),
    )
    ivf = built["ivf"].select(
        F.lit("ivf_seeded").alias("variant"), "query_id", "neighbor_id",
        F.col("cosine").alias("score"),
    )
    int8 = built["int8"].select(
        F.lit("int8_corpus").alias("variant"), "query_id", "neighbor_id",
        F.col("cosine").alias("score"),
    )
    sem = built["sem"].select(
        F.lit("semdedup").alias("variant"),
        F.col("vec_id").alias("query_id"),
        F.col("dup_of").alias("neighbor_id"),
        F.col("cosine").alias("score"),
    )
    pq = built["pq"].select(
        F.lit("pq_adc").alias("variant"),
        "query_id",
        "neighbor_id",
        F.col("adc_dist").alias("score"),
    )
    kg = built["kg"].select(
        F.lit("knn_graph").alias("variant"),
        F.col("vec_id").alias("query_id"),
        "neighbor_id",
        F.col("cosine").alias("score"),
    )
    kg2 = built["kg2"].select(
        F.lit("knn_graph_2l").alias("variant"),
        F.col("vec_id").alias("query_id"),
        "neighbor_id",
        F.col("cosine").alias("score"),
    )
    contam = built["contam"].select(
        F.lit("semantic_contam").alias("variant"),
        F.col("vec_id").alias("query_id"),
        F.col("matched_eval_id").alias("neighbor_id"),
        F.col("cosine").alias("score"),
    )
    fpre = built["fpre"].select(
        F.lit("filtered_pre").alias("variant"), "query_id", "neighbor_id",
        F.col("cosine").alias("score"),
    )
    fpost = built["fpost"].select(
        F.lit("filtered_post").alias("variant"), "query_id", "neighbor_id",
        F.col("cosine").alias("score"),
    )
    return (
        brute.unionByName(ivf)
        .unionByName(int8)
        .unionByName(sem)
        .unionByName(pq)
        .unionByName(kg)
        .unionByName(kg2)
        .unionByName(contam)
        .unionByName(fpre)
        .unionByName(fpost)
    )


# DuckDB mirror of functions/text.redact_pii: the chained
# regexp_replace in PII_PATTERNS order with the global flag (DuckDB
# replaces only the first match without 'g'; Spark regexp_replace is
# always global).
_REDACT_SQL = "text"
for _kind, _pat in PII_PATTERNS.items():
    _REDACT_SQL = f"regexp_replace({_REDACT_SQL}, '{_pat}', '<{_kind}>', 'g')"

_NGRAMS8_SQL = (
    "list_transform(generate_series(1, greatest(len({w}) - 7, 0)),"
    " i -> array_to_string({w}[i:i+7], ' '))"
)
_STOP_SQL = "['the', 'a', 'of', 'and', 'in', 'to', 'is']"


@query(
    "docs_chunked",
    oracle=f"""
    WITH toks AS (
        SELECT doc_id, {_WORDS_SQL.format(c="text")} AS toks
        FROM documents
    ),
    starts AS (
        SELECT doc_id, toks,
               unnest(generate_series(1, greatest(len(toks) - 16, 1), 48))
                   AS start,
               generate_subscripts(
                   generate_series(1, greatest(len(toks) - 16, 1), 48), 1) - 1
                   AS chunk_idx
        FROM toks
    ),
    chunks AS (
        SELECT doc_id,
               CAST(chunk_idx AS BIGINT) AS chunk_idx,
               md5(doc_id || ':' || chunk_idx) AS chunk_uid,
               array_to_string(toks[start:start + 63], ' ') AS chunk_text,
               CAST(len(toks[start:start + 63]) AS BIGINT) AS n_chunk_tokens
        FROM starts
    ),
    -- Curate chain (round 5): the flagship production surface
    -- operators/curate.curate_corpus(fuzzy=False, strip_boilerplate=2)
    -- replayed stage by stage: redact -> quality gate on the REDACTED
    -- text -> exact dedup (keep min doc_id per md5) -> 64/16 token
    -- chunking -> drop chunks carrying an 8-token window shared by
    -- >= 2 kept docs -> shard/pack. Every rounding and boundary
    -- mirrors the engine's quality_signals expressions.
    red AS (SELECT doc_id, {_REDACT_SQL} AS text FROM documents),
    rsig AS (
        SELECT doc_id, text, toks,
               len(toks) AS n_tokens,
               CASE WHEN len(toks) > 0 THEN
                   round(length(array_to_string(toks, ''))
                         / len(toks)::DOUBLE, 6) END AS avg_token_len,
               CASE WHEN len(toks) > 0 THEN
                   round(len(list_filter(toks,
                             x -> list_contains({_STOP_SQL}, x)))
                         / len(toks)::DOUBLE, 6) END AS stopword_ratio,
               CASE WHEN len(ngrams) > 0
                    THEN round(1.0 - len(list_distinct(ngrams))
                               / len(ngrams)::DOUBLE, 6)
                    ELSE 0.0 END AS dup_3gram_frac,
               CASE WHEN len(toks) > 0 THEN
                   round(len(list_filter(toks,
                             x -> regexp_full_match(x, '[0-9]+')))
                         / len(toks)::DOUBLE, 6) END AS digit_token_frac,
               {_PII_HITS_SQL} AS n_pii_hits
        FROM (SELECT doc_id, text, {_WORDS_SQL.format(c="text")} AS toks,
                     {_NGRAMS3_SQL.format(w=_WORDS_SQL.format(c="text"))}
                         AS ngrams
              FROM red)
    ),
    gated AS (
        SELECT doc_id, text, toks FROM rsig
        WHERE n_tokens BETWEEN 5 AND 10000
          AND avg_token_len BETWEEN 2.0 AND 12.0
          AND stopword_ratio >= 0.01
          AND dup_3gram_frac <= 0.5
          AND digit_token_frac <= 0.5
          AND n_pii_hits = 0
    ),
    keepers AS (SELECT min(doc_id) AS doc_id FROM gated GROUP BY md5(text)),
    uniq AS (SELECT g.doc_id, g.toks FROM gated g
             JOIN keepers k ON g.doc_id = k.doc_id),
    cstarts AS (
        SELECT doc_id, toks,
               unnest(generate_series(1, greatest(len(toks) - 16, 1), 48))
                   AS start,
               generate_subscripts(
                   generate_series(1, greatest(len(toks) - 16, 1), 48), 1) - 1
                   AS chunk_idx
        FROM uniq
    ),
    cchunks AS (
        SELECT doc_id,
               CAST(chunk_idx AS BIGINT) AS chunk_idx,
               md5(doc_id || ':' || chunk_idx) AS chunk_uid,
               toks[start:start + 63] AS ctoks
        FROM cstarts
    ),
    spans AS (
        SELECT md5(w) AS h
        FROM (SELECT doc_id,
                     unnest(list_distinct({_NGRAMS8_SQL.format(w="toks")}))
                         AS w
              FROM uniq)
        GROUP BY 1 HAVING count(DISTINCT doc_id) >= 2
    ),
    tainted AS (
        SELECT DISTINCT chunk_uid
        FROM (SELECT chunk_uid,
                     unnest(list_distinct({_NGRAMS8_SQL.format(w="ctoks")}))
                         AS w
              FROM cchunks) cw
        JOIN spans s ON md5(cw.w) = s.h
    ),
    kept AS (
        SELECT doc_id, chunk_idx, chunk_uid,
               array_to_string(ctoks, ' ') AS chunk_text,
               CAST(len(ctoks) AS BIGINT) AS n_chunk_tokens
        FROM cchunks
        WHERE chunk_uid NOT IN (SELECT chunk_uid FROM tainted)
    )
    SELECT 'chunks' AS branch, *,
           doc_id % 8 AS shard_id,
           CAST(floor((sum(n_chunk_tokens) OVER (
                           PARTITION BY doc_id % 8
                           ORDER BY doc_id, chunk_idx
                           ROWS UNBOUNDED PRECEDING
                       ) - n_chunk_tokens) / 1024.0) AS BIGINT) AS pack_id
    FROM chunks
    UNION ALL
    SELECT 'curated' AS branch, *,
           doc_id % 8 AS shard_id,
           CAST(floor((sum(n_chunk_tokens) OVER (
                           PARTITION BY doc_id % 8
                           ORDER BY doc_id, chunk_idx
                           ROWS UNBOUNDED PRECEDING
                       ) - n_chunk_tokens) / 1024.0) AS BIGINT) AS pack_id
    FROM kept
    """,
)
def docs_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (64-token chunks, 16-token
    overlap, stride 48) — the document -> training-sample preprocessing
    step (operators/chunking.py). One scan, map-side explode, stable
    content-independent chunk ids; the chunking itself is shuffle-free.
    Round 3 adds the next step, sequence packing
    (operators/chunking.pack_chunks): chunks are binned into
    1024-token training sequences by a per-shard running token sum (8
    hash shards, one shuffle on shard_id) — the distributed
    approximation of next-fit packing, see the operator docstring.

    branch='curated' (round 5): the END-TO-END curation chain
    operators/curate.curate_corpus(fuzzy=False, strip_boilerplate=2)
    — PII redaction, quality gate over the redacted text, exact
    dedup keeping the lowest id, 64/16 chunking, chunk-level
    boilerplate stripping (8-token spans shared by >= 2 kept docs),
    and shard/pack — driver-oracled as one surface, so the flagship
    production pipeline itself is hash-checked, not only its stages."""
    from travelpulse_spark_stream_tourism_analytics_spark.operators.chunking import (
        chunk_documents,
        pack_chunks,
    )
    from travelpulse_spark_stream_tourism_analytics_spark.operators.curate import (
        curate_corpus,
    )

    docs = load_table(spark, sf_dir, "documents")
    chunks = chunk_documents(
        docs, "doc_id", "text", chunk_tokens=64, overlap=16
    )
    plain = pack_chunks(chunks, capacity=1024, n_shards=8).select(
        F.lit("chunks").alias("branch"),
        "doc_id", "chunk_idx", "chunk_uid", "chunk_text",
        "n_chunk_tokens", "shard_id", "pack_id",
    )
    curated = curate_corpus(
        docs.select("doc_id", "text"), fuzzy=False, strip_boilerplate=2
    ).select(
        F.lit("curated").alias("branch"),
        "doc_id", "chunk_idx", "chunk_uid", "chunk_text",
        "n_chunk_tokens", "shard_id", "pack_id",
    )
    return plain.unionByName(curated)
