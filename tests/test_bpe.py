"""Byte-level BPE tokenizer (round 15).

Deterministic training (hash-gated bounded sample, total-order
tie-breaks), table-property persistence, Arrow-batched executor-side
application, and the tokenizer="bpe" seams in packing / vocab census.
"""

import pytest

from mack_spark.operators.bpe import (
    bpe_token_count,
    bpe_tokenize,
    encode_word,
    load_bpe_tokenizer,
    store_bpe_tokenizer,
    train_bpe_merges,
    train_bpe_merges_from_texts,
)


class TestTraining:
    def test_classic_merge_order(self):
        # "aaab aaab ab" — pair ('a','a') dominates, then ('aa','ab')…
        merges = train_bpe_merges_from_texts(
            ["aaab aaab ab", "aaab"], n_merges=3
        )
        assert merges[0] == ("a", "a")
        # deterministic: same input → same merges, every time
        again = train_bpe_merges_from_texts(
            ["aaab aaab ab", "aaab"], n_merges=3
        )
        assert merges == again

    def test_tie_break_lexicographic(self):
        # "ab" and "cd" both appear twice; ('a','b') < ('c','d')
        merges = train_bpe_merges_from_texts(["ab cd ab cd"], n_merges=1)
        assert merges == [("a", "b")]

    def test_stops_when_no_repeats(self):
        merges = train_bpe_merges_from_texts(["xy"], n_merges=10)
        assert merges == []  # every pair count is 1 — nothing learned

    def test_multibyte_utf8_is_byte_level(self):
        # 'éé' = b'\xc3\xa9\xc3\xa9' — merges operate on bytes
        merges = train_bpe_merges_from_texts(["éé éé"], n_merges=1)
        ranks = {tuple(m): i for i, m in enumerate(merges)}
        toks = encode_word("éé", ranks)
        assert "".join(toks).encode("latin-1").decode("utf-8") == "éé"

    def test_spark_trainer_matches_local(self, spark):
        texts = [f"the quick brown fox {i % 7}" for i in range(50)]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id int, text string"
        )
        assert train_bpe_merges(df, n_merges=16) == (
            train_bpe_merges_from_texts(texts, n_merges=16)
        )

    def test_hash_gate_bounds_sample_deterministically(self, spark):
        df = spark.createDataFrame(
            [(i, f"w{i % 5} w{i % 3}") for i in range(1000)],
            "doc_id int, text string",
        )
        m1 = train_bpe_merges(df, n_merges=8, max_train_rows=100)
        m2 = train_bpe_merges(df, n_merges=8, max_train_rows=100)
        assert m1 == m2 and len(m1) > 0


class TestEncoding:
    def test_count_and_tokens_consistent(self, spark):
        texts = ["hello hello world", "hello world world", ""]
        merges = train_bpe_merges_from_texts(texts, n_merges=12)
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id int, text string"
        )
        counted = {
            r["doc_id"]: r["n_bpe_tokens"]
            for r in bpe_token_count(df, merges).collect()
        }
        toks = {
            r["doc_id"]: r["bpe_tokens"]
            for r in bpe_tokenize(df, merges).collect()
        }
        for i, t in enumerate(texts):
            assert counted[i] == len(toks[i])
            # lossless: concatenated tokens rebuild the text sans spaces
            assert "".join(toks[i]) == t.replace(" ", "")
        assert counted[2] == 0

    def test_learned_word_is_one_token(self, spark):
        texts = ["hello hello hello"] * 4
        merges = train_bpe_merges_from_texts(texts, n_merges=10)
        ranks = {tuple(m): i for i, m in enumerate(merges)}
        assert encode_word("hello", ranks) == ["hello"]


class TestPersistence:
    def test_store_load_roundtrip(self, spark, tmp_path):
        from mack_spark.sources.delta_log import DeltaProtocolTable

        texts = ["pack these tokens", "pack those tokens"]
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id int, text string"
        )
        t = DeltaProtocolTable.create(spark, str(tmp_path / "t"), df)
        merges = train_bpe_merges(df, n_merges=8)
        store_bpe_tokenizer(t, merges)
        assert load_bpe_tokenizer(t) == merges

    def test_load_without_training_raises(self, spark, tmp_path):
        from mack_spark.sources.delta_log import DeltaProtocolTable

        df = spark.createDataFrame([(1, "x")], "doc_id int, text string")
        t = DeltaProtocolTable.create(spark, str(tmp_path / "t"), df)
        with pytest.raises(KeyError, match="mack.bpe.merges"):
            load_bpe_tokenizer(t)


class TestSeams:
    def test_pack_sequences_bpe(self, spark):
        from mack_spark.operators.packing import pack_sequences

        texts = ["aa aa aa", "aa aa", "bb"]
        df = spark.createDataFrame(
            [(i, "g", t) for i, t in enumerate(texts)],
            "doc_id int, grp string, text string",
        )
        merges = train_bpe_merges_from_texts(texts, n_merges=4)
        out = pack_sequences(
            df, ["grp"], budget=4, tokenizer="bpe", bpe_merges=merges
        ).collect()
        counts = {r["doc_id"]: r["n_tokens"] for r in out}
        # 'aa' is learned → 1 token each; 'bb' appears once → 2 bytes
        assert counts == {0: 3, 1: 2, 2: 2}

    def test_pack_sequences_bpe_needs_merges(self, spark):
        from mack_spark.operators.packing import pack_sequences

        df = spark.createDataFrame(
            [(1, "g", "x")], "doc_id int, grp string, text string"
        )
        with pytest.raises(ValueError, match="bpe_merges"):
            pack_sequences(df, ["grp"], tokenizer="bpe")

    def test_vocab_census_bpe(self, spark):
        from mack_spark.operators.textstats import vocab_census

        texts = ["hello hello", "hello world"]
        merges = train_bpe_merges_from_texts(texts, n_merges=8)
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id int, text string"
        )
        rows = vocab_census(
            df, tokenizer="bpe", bpe_merges=merges, top=5
        ).collect()
        top = rows[0]
        assert top["word"] == "hello" and top["n_occurrences"] == 3
