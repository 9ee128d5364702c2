"""Distributed byte-pair-encoding tokenizer (train + encode).

The real-merge upgrade of the profile's BPE-ish regex token count: a
training-data pipeline that reports token budgets or packs sequences
against a real tokenizer needs the actual merge table (Sennrich et al.
2016, the GPT-2 training shape).

Scale design — the classic two-level trick:

- The corpus reduces ONCE to a (word, count) table (map-side explode +
  one partial-agg shuffle). Everything iterative then runs over the
  DISTINCT-WORD table, which is vocabulary-sized (Zipf), not
  corpus-sized — the same reduction every practical BPE trainer
  (subword-nmt, HuggingFace) performs before merging.
- Each merge round is one aggregation over that table (explode
  adjacent symbol pairs weighted by word count, partial-agg shuffle,
  TakeOrdered 1) plus a map-side fold that applies the winning merge
  to the symbol arrays. The driver sees ONE row per round (the winning
  pair — a bounded monitoring scalar, like the components checksum);
  symbol arrays stay executor-side, checkpointed per round so lineage
  does not stack.
- ENCODE is a broadcast of the (tiny) ranks table + an Arrow-batched
  pandas UDF running the standard greedy lowest-rank merge loop —
  pure map-side, embarrassingly parallel.

Determinism: the winning pair maximizes count with ties broken
lexicographically on (left, right) — reproducible across engines and
runs, no hash ordering.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from travelpulse_spark_stream_tourism_analytics_spark.functions.text import (
    words_of,
)


def chars_of(col: Column) -> Column:
    """Split a word into its character symbols (array<string>)."""
    n = F.length(col)
    idx = F.when(n > 0, F.sequence(F.lit(1), n)).otherwise(
        F.array().cast("array<int>")
    )
    return F.transform(idx, lambda i: col.substr(i, F.lit(1)))


def word_counts(
    docs: DataFrame, text_col: str = "text", tokens_col: str | None = None
) -> DataFrame:
    """(word, wc) — the one corpus-sized aggregation of BPE training.

    ``tokens_col`` names a pre-tokenized array<string> column to use
    instead of tokenizing ``text_col`` (the shared-tokenize contract —
    see operators/lm.py ``_tok_expr``)."""
    tok = F.col(tokens_col) if tokens_col else words_of(F.col(text_col))
    return (
        docs.select(F.explode(tok).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("wc"))
    )


def adjacent_pair_counts(syms: DataFrame) -> DataFrame:
    """(left, right, cnt) over a (syms array<string>, wc) relation:
    every adjacent symbol pair, weighted by word count. Map-side
    explode + one partial-agg shuffle — the aggregation each training
    round runs."""
    pairs = F.zip_with(
        F.slice("syms", 1, F.size("syms") - 1),
        F.slice("syms", 2, F.size("syms") - 1),
        lambda a, b: F.struct(a.alias("l"), b.alias("r")),
    )
    return (
        syms.filter(F.size("syms") >= 2)
        .select("wc", F.explode(pairs).alias("p"))
        .groupBy(F.col("p.l").alias("left"), F.col("p.r").alias("right"))
        .agg(F.sum("wc").alias("cnt"))
    )


def apply_merge(syms_col: Column, left: str, right: str) -> Column:
    """Apply ONE merge (left, right) -> left||right to a symbol array
    with a left-to-right non-overlapping fold — pure array expression,
    codegen'd, no UDF. ('aaa' under (a,a) becomes ['aa','a'], the
    standard BPE convention.)"""
    merged = F.lit(left + right)

    def step(acc: Column, x: Column) -> Column:
        # F.get (0-based, NULL out of bounds) not element_at: ANSI mode
        # throws on element_at(empty, -1) even behind a `when` guard.
        last = F.get(acc, F.size(acc) - 1)
        return F.when(
            (F.size(acc) > 0)
            & (last == F.lit(left))
            & (x == F.lit(right)),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1), F.array(merged)
            ),
        ).otherwise(F.concat(acc, F.array(x)))

    return F.aggregate(
        syms_col, F.array().cast("array<string>"), step
    )


def train_bpe(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
    min_count: int = 2,
) -> list[tuple[str, str]]:
    """Learn up to ``n_merges`` BPE merges from the corpus. Returns
    the ordered merge list [(left, right), ...]. Stops early when no
    pair reaches ``min_count``. Each round: one vocabulary-sized
    aggregation + a map-side fold, checkpointed so round r+1 does not
    re-execute rounds 1..r."""
    syms = word_counts(docs, text_col).select(
        chars_of(F.col("word")).alias("syms"), "wc"
    )
    syms = syms.localCheckpoint(eager=True)
    merges: list[tuple[str, str]] = []
    for _ in range(n_merges):
        top = (
            adjacent_pair_counts(syms)
            .orderBy(F.desc("cnt"), F.asc("left"), F.asc("right"))
            .limit(1)
            .collect()
        )
        if not top or top[0]["cnt"] < min_count:
            break
        left, right = top[0]["left"], top[0]["right"]
        merges.append((left, right))
        syms = syms.select(
            apply_merge(F.col("syms"), left, right).alias("syms"), "wc"
        )
        syms = syms.localCheckpoint(eager=True)
    return merges


def encode_word(word: str, ranks: dict) -> list[str]:
    """Standard greedy BPE encode of one word: repeatedly merge the
    lowest-rank adjacent pair. Pure Python — the per-word inner loop
    of the Arrow-batched encoder (and the reference implementation the
    tests pin the distributed path against)."""
    syms = list(word)
    while len(syms) >= 2:
        best, best_rank = None, None
        for i in range(len(syms) - 1):
            r = ranks.get((syms[i], syms[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best, best_rank = i, r
        if best is None:
            break
        # apply the chosen merge everywhere, left to right
        pair = (syms[best], syms[best + 1])
        out, i = [], 0
        while i < len(syms):
            if (
                i < len(syms) - 1
                and (syms[i], syms[i + 1]) == pair
            ):
                out.append(syms[i] + syms[i + 1])
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def bpe_encode(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, tokens array<string>, n_bpe_tokens) — tokenize each
    document with the learned merges. The ranks table is a broadcast
    plan constant (KBs); the encode loop runs Arrow-batched in pandas,
    map-side, no shuffle."""
    ranks = {pair: i for i, pair in enumerate(merges)}

    @F.pandas_udf("array<string>")
    def enc(texts: pd.Series) -> pd.Series:
        def run(t):
            out = []
            if t:
                for w in _split_words(t):
                    out.extend(encode_word(w, ranks))
            return out

        return texts.map(run)

    return docs.select(
        id_col,
        enc(F.col(text_col)).alias("tokens"),
    ).withColumn("n_bpe_tokens", F.size("tokens").cast("long"))


def _split_words(text: str) -> list[str]:
    """Python twin of functions.text.words_of (lowercase [a-z0-9]
    runs), so the pandas encoder tokenizes the same word stream the
    trainer aggregated."""
    import re

    return [w for w in re.split(r"[^a-z0-9]+", text.lower()) if w]


# --- Tokenizer as a production artifact (round 5) ------------------------


def train_bpe_model(
    docs: DataFrame,
    n_merges: int,
    text_col: str = "text",
    min_count: int = 2,
) -> dict:
    """Train merges AND build the id-table model artifact.

    The model dict is ``{"merges": [[l, r], ...], "vocab": [tok, ...]}``
    where vocab is ``["<unk>"] + sorted(training alphabet) + merge
    outputs in merge order`` — a deterministic token -> id table
    (id = position). Any symbol unseen at training time encodes to
    ``<unk>`` (id 0). The alphabet is one tiny extra aggregation over
    the distinct-word table; everything else is train_bpe unchanged."""
    merges = train_bpe(docs, n_merges, text_col=text_col, min_count=min_count)
    alphabet = sorted(
        r["ch"]
        for r in word_counts(docs, text_col)
        .select(F.explode(chars_of(F.col("word"))).alias("ch"))
        .distinct()
        .collect()
    )
    vocab = ["<unk>"] + alphabet + [left + right for left, right in merges]
    # merge outputs can collide with alphabet entries only if a merge
    # re-derives a single char, which BPE cannot; but two merge chains
    # could in principle emit the same string — dedupe keeping first.
    seen: set[str] = set()
    uniq = [t for t in vocab if not (t in seen or seen.add(t))]
    return {"merges": [list(m) for m in merges], "vocab": uniq}


def save_bpe_model(model: dict, path: str) -> None:
    import json

    with open(path, "w", encoding="utf-8") as fh:
        json.dump(model, fh, ensure_ascii=False)


def load_bpe_model(path: str) -> dict:
    import json

    with open(path, encoding="utf-8") as fh:
        model = json.load(fh)
    model["merges"] = [tuple(m) for m in model["merges"]]
    return model


def bpe_encode_ids(
    docs: DataFrame,
    model: dict,
    text_col: str = "text",
    out_col: str = "input_ids",
) -> DataFrame:
    """Append ``out_col`` (array<int>) — the doc's BPE token ids under
    the model's vocab table; unknown symbols map to <unk> (id 0).
    Same execution shape as bpe_encode: broadcast KB-scale ranks+vocab
    plan constants, Arrow-batched map-side encode, zero shuffles.
    Keeps every input column (pass-through), so it composes directly
    onto packed curation samples."""
    ranks = {tuple(pair): i for i, pair in enumerate(model["merges"])}
    ids = {tok: i for i, tok in enumerate(model["vocab"])}

    @F.pandas_udf("array<int>")
    def enc(texts: pd.Series) -> pd.Series:
        def run(t):
            out = []
            if t:
                for w in _split_words(t):
                    out.extend(
                        ids.get(s, 0) for s in encode_word(w, ranks)
                    )
            return out

        return texts.map(run)

    return docs.withColumn(out_col, enc(F.col(text_col)))
