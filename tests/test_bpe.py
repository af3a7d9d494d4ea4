"""Pure-Python byte-level BPE: algorithm correctness without the
cl100k vocabulary data (which is environment-blocked — no network, no
tiktoken wheel). The algorithm itself is fully testable: rank-ordered
merging on hand-built vocabularies, the published cl100k
pre-tokenization regex, the .tiktoken file format, and pickling for
Spark UDF closures. Exact-parity tests against tiktoken auto-skip
where tiktoken is absent and run the moment it (or a vocab file) is
provided."""

from __future__ import annotations

import base64
import pickle

import pytest

from mapreduce_llm_spark.functions.bpe import (
    CL100K_PATTERN,
    BytePairEncoder,
    load_tiktoken_ranks,
)

# Toy byte vocab: single bytes + a few merges, enough to discriminate
# BPE's lowest-rank-first order from greedy longest-prefix matching.
TOY = {b"a": 0, b"b": 1, b"c": 2, b"d": 3, b"bc": 4, b"ab": 5, b"cd": 6, b"abcd": 7}


def enc(ranks=None, pattern=r"\S+|\s+"):
    return BytePairEncoder(ranks or dict(TOY), pattern=pattern)


def test_merge_order_is_by_rank_not_longest_prefix():
    # "abc": pair ranks ab=5, bc=4 → bc merges FIRST (lower rank),
    # leaving [a, bc] = [0, 4]. Greedy longest-prefix would emit
    # [ab, c] = [5, 2] — the wrong answer BPE exists to avoid.
    assert enc().encode("abc") == [0, 4]


def test_cascading_merges_reach_whole_piece_token():
    # ab(5) and cd(6) merge, then abcd(7): one token.
    assert enc().encode("abcd") == [7]


def test_unmergeable_bytes_fall_back_to_singletons():
    assert enc().encode("dcba") == [3, 2, 1, 0]


def test_missing_single_byte_raises_loudly():
    # A truncated vocabulary must not produce silently wrong counts.
    with pytest.raises(KeyError):
        enc().encode("axe")


def test_count_and_decode_round_trip():
    e = enc({**TOY, b" ": 8})
    ids = e.encode("abcd dcba")
    assert e.count("abcd dcba") == len(ids)
    assert e.decode(ids) == "abcd dcba"


def test_encoder_pickles_for_udf_closures():
    e = enc()
    e.pieces("warm up the lazy regex")  # compiled state must not break pickle
    clone = pickle.loads(pickle.dumps(e))
    assert clone.encode("abc") == e.encode("abc")


def test_cl100k_pretokenizer_splits_like_the_published_pattern():
    e = BytePairEncoder({}, pattern=CL100K_PATTERN)
    assert e.pieces("Hello world123 it's\n\n done") == [
        "Hello", " world", "123", " it", "'s", "\n\n", " done",
    ]
    # digits chunk in groups of ≤3; punctuation binds its leading space
    assert e.pieces("year 2024!") == ["year", " ", "202", "4", "!"]


def test_tiktoken_file_format_loader(tmp_path):
    p = tmp_path / "toy.tiktoken"
    lines = [
        base64.b64encode(tok).decode() + " " + str(rank)
        for tok, rank in TOY.items()
    ]
    p.write_text("\n".join(lines) + "\n")
    assert load_tiktoken_ranks(str(p)) == TOY


def _write_vocab(path, vocab: dict[bytes, int]) -> str:
    path.write_text(
        "\n".join(base64.b64encode(t).decode() + " " + str(r) for t, r in vocab.items())
    )
    return str(path)


# TOY plus the space and newline bytes: covers every byte of the texts
# below, so the cl100k pre-tokenizer's pieces all encode
TOY_VOCAB = {**TOY, b" ": 8, b"\n": 9}
# a second, different vocabulary: " a" merges, so " abc" is 2 tokens
TOY_VOCAB_2 = {**TOY_VOCAB, b" a": 10}


@pytest.fixture
def tokens_module():
    """The token seam, with the driver's installed vocab reset after the
    test whatever it installed."""
    from mapreduce_llm_spark.functions import tokens as T

    yield T
    T._BPE = None


def test_vocab_file_installs_into_token_seam(tmp_path, tokens_module):
    T = tokens_module
    baseline = T.count_tokens_str("abcd abc")
    T.install_cl100k_from_file(_write_vocab(tmp_path / "toy.tiktoken", TOY_VOCAB))
    # cl100k pattern: "abcd" + " abc" → [abcd] + [space-merge-less
    # pieces]: " abc" has no space-letter merges in the toy vocab,
    # so it splits to " ", then a,bc → 4 tokens total... compute:
    # "abcd" → [7]; " abc" piece → bytes " abc": no pair with the
    # space merges, bc(4) merges → [" ", "a", "bc"] → 3 ids.
    assert T.count_tokens_str("abcd abc") == 4
    assert T.count_tokens_str("abcd abc") != baseline or baseline == 4


def test_exact_parity_with_tiktoken_when_available():
    """Bit-for-bit ID parity with tiktoken's cl100k_base — the real
    point of the module. Auto-skips in this container (no tiktoken, no
    vocab); runs unchanged wherever either exists."""
    tiktoken = pytest.importorskip("tiktoken")
    real = tiktoken.get_encoding("cl100k_base")
    ranks = real._mergeable_ranks
    mine = BytePairEncoder(ranks)
    for text in (
        "Hello world, it's 2024 — naïve tokenizers beware!\n\n",
        "    indented code():\n        return 'x'\n",
        "emoji 🙂 and CJK 你好 mix",
    ):
        assert mine.encode(text) == real.encode_ordinary(text)


# ---- property tests (hypothesis) ------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st


def _full_byte_vocab_with_merges() -> dict[bytes, int]:
    """All 256 single bytes (ranks 0-255) plus a deterministic set of
    multi-byte merges over common ASCII pairs — enough structure for
    merging to actually happen on random ASCII input."""
    ranks: dict[bytes, int] = {bytes([b]): b for b in range(256)}
    rank = 256
    for pair in (b"th", b"he", b"in", b"er", b"an", b"the", b"ing", b"  "):
        ranks[pair] = rank
        rank += 1
    return ranks


_PROP_ENC = BytePairEncoder(_full_byte_vocab_with_merges(), pattern=r"[\s\S]+")


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=120))
def test_bpe_round_trip_is_lossless(text):
    """decode(encode(x)) == x for arbitrary unicode input: merging can
    never lose or reorder bytes, and every byte is reachable (the
    256-byte base vocab guarantees no KeyError)."""
    assert _PROP_ENC.decode(_PROP_ENC.encode(text)) == text


@settings(max_examples=200, deadline=None)
@given(st.text(max_size=120))
def test_bpe_tokens_never_exceed_bytes(text):
    """Token count is bounded above by the UTF-8 byte length (merges
    only shrink) and below by 1 for non-empty input."""
    n = _PROP_ENC.count(text)
    assert n <= len(text.encode("utf-8"))
    if text:
        assert n >= 1


@settings(max_examples=100, deadline=None)
@given(st.text(alphabet="the ring", max_size=60))
def test_bpe_every_emitted_id_is_a_vocab_token_covering_input(text):
    """Concatenating the byte strings of the emitted ids reconstructs
    the exact UTF-8 input — the structural invariant of byte-level BPE
    (tokens tile the input, no gaps, no overlaps)."""
    ranks = _PROP_ENC.ranks
    inv = {v: k for k, v in ranks.items()}
    ids = _PROP_ENC.encode(text)
    assert b"".join(inv[i] for i in ids) == text.encode("utf-8")


def _udf_counts(spark, T, text: str):
    """The plan's token counts, computed by its tasks on executors."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(text,)] * 16, "text string").repartition(4)
    return df.select(T.make_count_tokens_udf()(F.col("text")).alias("n"))


def test_installed_vocab_reaches_executors(spark, tmp_path, tokens_module):
    """After an install on the driver, the counting UDF counts with the
    vocab on executors (4 is the toy-BPE count; the heuristic gives 2)."""
    T = tokens_module
    T.install_cl100k_from_file(_write_vocab(tmp_path / "toy.tiktoken", TOY_VOCAB))
    assert {r.n for r in _udf_counts(spark, T, "abcd abc").collect()} == {4}


def test_installed_vocab_drives_chunking_and_packing(spark, tmp_path, tokens_module):
    """chunk_documents and pack_sequences run on executors with the
    vocab installed on the driver: their rows equal the driver-side
    chunking and greedy packing under that vocab."""
    from mapreduce_llm_spark.operators.chunker import chunk_documents, chunk_text
    from mapreduce_llm_spark.operators.packing import pack_sequences

    T = tokens_module
    texts = {1: "\n".join(["abcd abc"] * 12), 2: "abc dcba " * 9, 3: "abcd"}
    docs = spark.createDataFrame(sorted(texts.items()), "doc_id long, text string")
    heuristic_chunks = [chunk_text(t, 10) for t in texts.values()]
    T.install_cl100k_from_file(_write_vocab(tmp_path / "toy.tiktoken", TOY_VOCAB))
    count = T.count_tokens_str

    expected_chunks = sorted(
        (doc_id, i, c, count(c))
        for doc_id, text in texts.items()
        for i, c in enumerate(chunk_text(text, 10))
    )
    # the vocab moves the chunk boundaries, so the comparison shows it
    assert [chunk_text(t, 10) for t in texts.values()] != heuristic_chunks
    got_chunks = sorted(tuple(r) for r in chunk_documents(docs, max_tokens=10).collect())
    assert got_chunks == expected_chunks

    # one shard: greedy first-fit over doc_id order, computed here
    expected_packing, seq, used, pos = [], 0, 0, 0
    for doc_id, text in sorted(texts.items()):
        t = count(text)
        if pos and used + t > 30:
            seq, used, pos = seq + 1, 0, 0
        expected_packing.append((doc_id, seq, pos, t))
        used, pos = used + t, pos + 1
    got_packing = sorted(
        tuple(r) for r in pack_sequences(docs, budget=30, n_shards=1).collect()
    )
    assert got_packing == expected_packing


def test_a_plan_keeps_the_counter_it_was_built_with(spark, tmp_path, tokens_module):
    """A second, different install takes effect for plans built after
    it; a plan built before it still counts with the first vocab."""
    T = tokens_module
    T.install_cl100k_from_file(_write_vocab(tmp_path / "toy.tiktoken", TOY_VOCAB))
    first = _udf_counts(spark, T, "abcd abc")
    T.install_cl100k_from_file(_write_vocab(tmp_path / "toy2.tiktoken", TOY_VOCAB_2))
    second = _udf_counts(spark, T, "abcd abc")
    assert T.count_tokens_str("abcd abc") == 3
    assert {r.n for r in second.collect()} == {3}
    assert {r.n for r in first.collect()} == {4}


def test_resetting_the_vocab_restores_the_heuristic(spark, tmp_path, tokens_module):
    """Dropping the driver's encoder returns the heuristic on the driver
    and, for plans built after, on the executors."""
    T = tokens_module
    text = "abcd abc abcd abc abcd abc"
    heuristic = T.count_tokens_str(text)
    T.install_cl100k_from_file(_write_vocab(tmp_path / "toy.tiktoken", TOY_VOCAB))
    assert T.count_tokens_str(text) != heuristic
    T._BPE = None
    assert T.count_tokens_str(text) == heuristic == 6
    assert {r.n for r in _udf_counts(spark, T, text).collect()} == {6}


def test_count_memo_matches_encode_len():
    """count() memoizes per-piece token counts (round-15); the memo
    must be invisible: count == len(encode) on repeated calls, mixed
    texts, and across the memo warm/cold boundary."""
    from mapreduce_llm_spark.functions.bpe import BytePairEncoder

    from mapreduce_llm_spark.queries.textprep import _toy_bpe_ranks

    enc = BytePairEncoder(_toy_bpe_ranks())
    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the the the ingestion of nothing",
        "",
        "ünïcödé bytes — mixed 123 !!",
        "the quick brown fox jumps over the lazy dog",  # repeat: warm memo
    ]
    for t in texts:
        assert enc.count(t) == len(enc.encode(t)), t
    # a fresh encoder (cold memo) agrees with the warmed one
    cold = BytePairEncoder(_toy_bpe_ranks())
    for t in texts:
        assert cold.count(t) == enc.count(t), t


def test_count_memo_skips_long_pieces():
    """A piece longer than _COUNT_MEMO_PIECE_MAX is counted exactly but
    never memoized, so the entry cap also bounds the memo's key bytes."""
    from mapreduce_llm_spark.queries.textprep import _toy_bpe_ranks

    enc = BytePairEncoder(_toy_bpe_ranks())
    enc.count("warm")
    before = len(enc._count_memo)
    long_piece = "q" * (BytePairEncoder._COUNT_MEMO_PIECE_MAX + 1) + "unique"
    assert enc.count(long_piece) == len(enc.encode(long_piece))
    assert len(enc._count_memo) == before
