"""Byte-pair-encoding tokenizer: distributed merge-table training and
Arrow-batched corpus encoding.

`plans/corpus_queries.bpe_merge_candidates` computes BPE training's
iteration-0 aggregate; this module runs the WHOLE loop. Training is
the canonical iterative algorithm a declarative engine can't express
in one query (each merge changes the next iteration's pair counts),
so it follows the same pattern as `operators/graph.connected_
components`: a driver loop whose per-round work is one vocabulary-
sized aggregate plus one scalar argmax collect — justified because
the vocabulary is orders of magnitude smaller than the corpus (the
token stream collapses to DISTINCT (word, count) before the loop ever
starts), and the only driver-side data is one (pair, count) row per
round.

Encoding applies the learned ranks with the classic lowest-rank-first
merge loop — per-word imperative logic, the designated Arrow lane:
`mapInPandas` with the merge table broadcast to workers, never a
row-at-a-time Python UDF. A 100 TB encode is embarrassingly parallel
(per-doc, no shuffle); the expensive part is exactly this batched
Python loop, which is why real deployments push it into a native
tokenizer library — the Spark-side plumbing (broadcast table, Arrow
batches, schema) is identical.

The reference has no tokenizer surface at all (its only text handling
is JSON field extraction, spark_apps/pubg_streaming.py:138-160); this
is part of the LLM-training-data extension.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pubg_data_pipeline_spark.operators.ckpt import Scope

# ------------------------------------------------------------------
# pure-Python reference (tests pin the distributed paths against it)


def train_bpe_local(word_counts: dict[str, int], num_merges: int) -> list[tuple[str, str]]:
    """Reference BPE trainer: greedy most-frequent adjacent symbol
    pair, ties broken by (count desc, pair lexicographic asc) so the
    result is deterministic. Returns the ordered merge list."""
    vocab: list[tuple[list[str], int]] = [
        (list(w), c) for w, c in sorted(word_counts.items()) if len(w) >= 2
    ]
    merges: list[tuple[str, str]] = []
    for _ in range(num_merges):
        counts: dict[tuple[str, str], int] = {}
        for syms, c in vocab:
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] = counts.get((a, b), 0) + c
        if not counts:
            break
        best = min(counts.items(), key=lambda kv: (-kv[1], kv[0]))[0]
        merges.append(best)
        vocab = [(merge_pair_local(syms, best), c) for syms, c in vocab]
    return merges


def merge_pair_local(syms: list[str], pair: tuple[str, str]) -> list[str]:
    """One left-to-right non-overlapping replacement pass."""
    a, b = pair
    out: list[str] = []
    i = 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def encode_word_local(word: str, ranks: dict[tuple[str, str], int]) -> list[str]:
    """Standard BPE inference: repeatedly merge the LOWEST-rank
    adjacent pair present (this is rank order, not left-to-right
    greedy — the order merges were learned in)."""
    syms = list(word)
    while len(syms) >= 2:
        ranked = [
            (ranks[(a, b)], (a, b)) for a, b in zip(syms, syms[1:]) if (a, b) in ranks
        ]
        if not ranked:
            break
        _, best = min(ranked)
        syms = merge_pair_local(syms, best)
    return syms


# ------------------------------------------------------------------
# distributed training


def _merge_pair_col(syms, a: str, b: str):
    """Column form of `merge_pair_local`: one fold over the symbol
    array with (accumulated output, pending symbol) state — pure
    Catalyst expressions, runs on the vocabulary table in parallel."""
    a_lit, b_lit = F.lit(a), F.lit(b)
    zero = F.struct(
        F.array().cast("array<string>").alias("acc"),
        F.lit(None).cast("string").alias("prev"),
    )
    step = lambda st, x: F.when(  # noqa: E731
        st["prev"].isNull(),
        F.struct(st["acc"].alias("acc"), x.alias("prev")),
    ).otherwise(
        F.when(
            (st["prev"] == a_lit) & (x == b_lit),
            F.struct(
                F.concat(st["acc"], F.array(F.concat(a_lit, b_lit))).alias("acc"),
                F.lit(None).cast("string").alias("prev"),
            ),
        ).otherwise(
            F.struct(F.concat(st["acc"], F.array(st["prev"])).alias("acc"), x.alias("prev"))
        )
    )
    fin = lambda st: F.when(  # noqa: E731
        st["prev"].isNull(), st["acc"]
    ).otherwise(F.concat(st["acc"], F.array(st["prev"])))
    return F.aggregate(syms, zero, step, fin)


def train_bpe(
    vocab: DataFrame,
    num_merges: int,
    word_col: str = "w",
    count_col: str = "n_w",
    checkpoint_every: int = 4,
) -> list[tuple[str, str]]:
    """Distributed BPE training over a (word, count) vocabulary table.

    Per round: adjacent pairs explode off the symbol arrays weighted
    by word count (one hash aggregate), the argmax comes back as ONE
    driver row (tie-broken count desc / pair asc, matching
    `train_bpe_local` exactly), and the merge is applied to the symbol
    column as a Catalyst fold (`_merge_pair_col`). The vocab DataFrame
    is checkpointed every few rounds so lineage doesn't stack
    ``num_merges`` fold expressions deep.
    """
    df = vocab.filter(F.length(word_col) >= 2).select(
        F.col(count_col).alias("__c"),
        # split-to-chars; Spark's regex split keeps a trailing empty
        # element (limit=-1 semantics), drop it
        F.filter(
            F.split(F.col(word_col), "(?!^)"), lambda x: x != F.lit("")
        ).alias("__syms"),
    )
    # materialize the vocabulary ONCE: every round runs one job, and
    # without this each job would re-aggregate the corpus token stream
    # down to the vocab (num_merges full corpus scans instead of one).
    # Each later cut supersedes the one before; the last is released on
    # return, since only the merge list leaves this function.
    merges: list[tuple[str, str]] = []
    with Scope(vocab.sparkSession) as cuts:
        df = cuts.cut(df)
        for i in range(num_merges):
            pairs = df.select(
                "__c",
                F.explode(
                    F.zip_with(
                        F.slice(F.col("__syms"), 1, F.size("__syms") - 1),
                        F.slice(F.col("__syms"), 2, F.size("__syms") - 1),
                        lambda x, y: F.struct(x.alias("a"), y.alias("b")),
                    )
                ).alias("p"),
            )
            best = (
                pairs.groupBy("p")
                .agg(F.sum("__c").alias("n"))
                .orderBy(F.col("n").desc(), F.col("p.a").asc(), F.col("p.b").asc())
                .limit(1)
                .collect()  # one (pair, count) row per round — driver-scalar,
                # same justification as graph.connected_components convergence
            )
            if not best:
                break
            a, b = best[0]["p"]["a"], best[0]["p"]["b"]
            merges.append((a, b))
            df = df.select("__c", _merge_pair_col(F.col("__syms"), a, b).alias("__syms"))
            if (i + 1) % checkpoint_every == 0:
                df = cuts.supersede(df)
    return merges


# ------------------------------------------------------------------
# distributed encoding (Arrow lane)


def bpe_encode(
    df: DataFrame,
    merges: list[tuple[str, str]],
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Encode every document with a learned merge table. Output:
    (id, n_ws_tokens, n_bpe_tokens) — the corpus-budgeting numbers a
    tokenizer pass exists to produce.

    mapInPandas over Arrow batches; the merge table rides the closure
    (kilobytes — a real 50k-merge table would go through
    ``spark.sparkContext.broadcast``). No shuffle on a pre-split input:
    per-doc work over the scan's own partitioning — the repartition
    fires ONLY when the scan arrives with fewer splits than the session
    parallelism (the synthetic single-row-group parquet), never as an
    unconditional corpus-wide shuffle of the text payload.
    """
    ranks = {p: i for i, p in enumerate(merges)}
    spread = df.select(id_col, text_col)
    par = df.sparkSession.sparkContext.defaultParallelism
    if spread.rdd.getNumPartitions() < par:
        spread = spread.repartition(par)

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        memo: dict[str, int] = {}  # vocab ≪ token stream: encode each
        # distinct word once per task, not once per occurrence

        def n_syms(w: str) -> int:
            n = memo.get(w)
            if n is None:
                n = memo[w] = len(encode_word_local(w, ranks))
            return n

        for pdf in batches:
            counts = []
            for text in pdf[text_col]:
                words = (text or "").strip().lower().split()
                counts.append((len(words), sum(n_syms(w) for w in words)))
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "n_ws_tokens": [c[0] for c in counts],
                    "n_bpe_tokens": [c[1] for c in counts],
                }
            )

    id_dtype = dict(df.dtypes)[id_col]
    return spread.mapInPandas(
        run, schema=f"{id_col} {id_dtype}, n_ws_tokens long, n_bpe_tokens long"
    )
