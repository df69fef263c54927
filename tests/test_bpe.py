"""BPE tokenizer: distributed trainer/encoder pinned against the
pure-Python reference implementation (functions/bpe.py docstring
explains why this surface is test-pinned rather than oracle-paired:
training is iterative, encoding is per-word imperative)."""

from __future__ import annotations

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from pubg_data_pipeline_spark.functions.bpe import (
    bpe_encode,
    encode_word_local,
    merge_pair_local,
    train_bpe,
    train_bpe_local,
)
from tests.conftest import SMOKE_SF_DIR

words = st.text(
    alphabet=st.characters(min_codepoint=97, max_codepoint=122), min_size=0, max_size=12
)


def test_merge_pair_local_basic_and_overlapping():
    assert merge_pair_local(list("their"), ("t", "h")) == ["th", "e", "i", "r"]
    # non-overlapping left-to-right: 'aaa' + (a,a) -> ['aa', 'a']
    assert merge_pair_local(list("aaa"), ("a", "a")) == ["aa", "a"]
    assert merge_pair_local(list("aaaa"), ("a", "a")) == ["aa", "aa"]
    assert merge_pair_local([], ("a", "b")) == []


def test_local_trainer_greedy_order():
    # 'abab' x3: (a,b) dominates; after merging, ('ab','ab') is next
    merges = train_bpe_local({"abab": 3, "cd": 1}, 2)
    assert merges[0] == ("a", "b")
    assert merges[1] == ("ab", "ab")


@given(word=words)
@settings(max_examples=200, deadline=None)
def test_encode_empty_ranks_is_chars(word):
    assert encode_word_local(word, {}) == list(word)


@given(word=words, n=st.integers(min_value=0, max_value=6))
@settings(max_examples=200, deadline=None)
def test_encode_properties(word, n):
    merges = train_bpe_local({word: 1}, n) if word else []
    ranks = {p: i for i, p in enumerate(merges)}
    syms = encode_word_local(word, ranks)
    # lossless: concatenation reconstructs the word
    assert "".join(syms) == word
    # merging never increases token count
    assert len(syms) <= max(len(word), 0)


@pytest.fixture(scope="module")
def corpus_vocab(spark):
    docs = spark.read.parquet(f"{SMOKE_SF_DIR}/documents.parquet")
    words_df = docs.select(
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("w")
    ).filter(F.length("w") >= 2)
    return words_df.groupBy("w").agg(F.count(F.lit(1)).alias("n_w"))


def test_distributed_trainer_matches_local(spark, corpus_vocab):
    local_counts = {r["w"]: r["n_w"] for r in corpus_vocab.collect()}
    want = train_bpe_local(local_counts, 8)
    got = train_bpe(corpus_vocab, num_merges=8)
    assert got == want


def test_train_bpe_releases_its_checkpoints(spark, corpus_vocab, monkeypatch):
    """Each vocabulary checkpoint is released once the next one has
    materialized, and the last one when training returns."""
    from pubg_data_pipeline_spark.operators import ckpt

    before = ckpt.persisted_rdd_ids(spark)
    live = []
    real = ckpt.checkpoint

    def spy(df, eager=True):
        out = real(df, eager)
        live.append(len(ckpt.persisted_rdd_ids(spark) - before))
        return out

    monkeypatch.setattr(ckpt, "checkpoint", spy)
    train_bpe(corpus_vocab, num_merges=8)  # cuts: start, round 4, round 8
    assert live == [1, 2, 2]  # a superseded cut never outlives the next one
    assert ckpt.persisted_rdd_ids(spark) - before == set()


def test_distributed_encoder_matches_local(spark):
    docs = spark.read.parquet(f"{SMOKE_SF_DIR}/documents.parquet")
    local_counts: dict[str, int] = {}
    for r in docs.select("text").collect():
        for w in (r["text"] or "").strip().lower().split():
            if len(w) >= 2:
                local_counts[w] = local_counts.get(w, 0) + 1
    merges = train_bpe_local(local_counts, 10)
    ranks = {p: i for i, p in enumerate(merges)}

    got = {
        r["doc_id"]: (r["n_ws_tokens"], r["n_bpe_tokens"])
        for r in bpe_encode(docs, merges).collect()
    }
    for r in docs.select("doc_id", "text").collect():
        ws = (r["text"] or "").strip().lower().split()
        want = (len(ws), sum(len(encode_word_local(w, ranks)) for w in ws))
        assert got[r["doc_id"]] == want
    assert len(got) == docs.count()


def test_registered_query_runs(spark):
    from pubg_data_pipeline_spark.plans.corpus_queries import doc_bpe_encode

    out = doc_bpe_encode(spark, SMOKE_SF_DIR).collect()
    docs = spark.read.parquet(f"{SMOKE_SF_DIR}/documents.parquet")
    assert len(out) == docs.count()
    for r in out:
        # BPE over >=2-char words can only shrink vs per-char, and a
        # merged encoding never goes below one token per word
        assert r["n_bpe_tokens"] >= r["n_ws_tokens"] or r["n_ws_tokens"] == 0
