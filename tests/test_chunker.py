"""Chunker tests — the reference's own invariants
(reference internal/cli/mapreduce_test.go:357-451) as property tests."""

from __future__ import annotations

import os

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from mapreduce_llm_spark.functions.tokens import count_tokens_str
from mapreduce_llm_spark.operators.chunker import chunk_documents, chunk_text

WORDS = st.text(
    alphabet=st.characters(whitelist_categories=("Ll", "Lu", "Nd")), min_size=1, max_size=12
)
LINES = st.lists(WORDS, min_size=0, max_size=20).map(" ".join)
DOCS = st.lists(LINES, min_size=0, max_size=30).map("\n".join)


def words_of(s: str) -> list[str]:
    return s.split()


@given(DOCS, st.integers(min_value=3, max_value=200))
@settings(max_examples=200, deadline=None)
def test_recombination_preserves_words(doc, budget):
    """Rejoined chunks preserve the original word sequence
    (reference mapreduce_test.go:420-436)."""
    chunks = chunk_text(doc, budget)
    rejoined = [w for c in chunks for w in words_of(c)]
    assert rejoined == words_of(doc)


@given(DOCS, st.integers(min_value=3, max_value=200))
@settings(max_examples=200, deadline=None)
def test_chunks_within_budget_tolerance(doc, budget):
    """Every chunk ≤ 2× token budget (reference mapreduce_test.go:413-417)."""
    for c in chunk_text(doc, budget):
        assert count_tokens_str(c) <= 2 * budget


@given(DOCS)
@settings(max_examples=100, deadline=None)
def test_lines_preserved_when_under_budget(doc):
    """Line boundaries survive when every line fits the budget."""
    budget = 10_000
    chunks = chunk_text(doc, budget)
    if doc:
        assert "\n".join(chunks) == doc


def test_empty_input():
    """Empty file → no chunks (reference mapreduce_test.go:441-451)."""
    assert chunk_text("", 100) == []


def test_multi_chunk_split():
    """'word ' ×1000 at budget 100 → 10-25 chunks
    (reference mapreduce_test.go:381-385)."""
    doc = " ".join(["word"] * 1000)
    chunks = chunk_text(doc, 100)
    assert 5 <= len(chunks) <= 25
    assert [w for c in chunks for w in c.split()] == ["word"] * 1000


def test_overlong_line_word_fallback():
    """A single line over budget falls back to word packing
    (reference mapreduce.go:228-254, test :387-392)."""
    doc = " ".join(["word"] * 50)  # one line, ~50 tokens
    chunks = chunk_text(doc, 3)
    assert len(chunks) > 1
    assert [w for c in chunks for w in c.split()] == ["word"] * 50


def test_chunk_documents_distributed(spark):
    """The DataFrame operator assigns consecutive per-doc chunk ids."""
    docs = spark.createDataFrame(
        [(1, "\n".join(["alpha beta"] * 30)), (2, "x"), (3, "")],
        "doc_id long, text string",
    )
    out = chunk_documents(docs, max_tokens=10).collect()
    by_doc: dict[int, list[int]] = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r["chunk_id"])
    assert sorted(by_doc[1]) == list(range(len(by_doc[1]))) and len(by_doc[1]) > 1
    assert by_doc[2] == [0]
    assert 3 not in by_doc  # empty doc yields no chunks


# --- reference-parity: greedy packer vs the documented reference
# semantics (reference internal/cli/mapreduce.go:199-263), on the
# reference's own example corpus when present ---------------------------

REFERENCE_FIXTURE = "/root/reference/examples/product-ratings/reviews.txt"


def _spec_chunks(text: str, max_tokens: int, count) -> list[str]:
    """Independent implementation of the documented packing contract
    (line-greedy, overlong-line word fallback, last word-chunk stays
    open) used as the parity oracle — parameterized by the counter."""
    chunks: list[str] = []
    cur = ""
    cur_tok = 0
    for line in text.split("\n"):
        lt = count(line + "\n")
        if cur and cur_tok + lt > max_tokens:
            chunks.append(cur.rstrip("\n"))
            cur, cur_tok = line + "\n", lt
        else:
            cur += line + "\n"
            cur_tok += lt
        if lt > max_tokens:
            # cur is exactly this line; re-pack it word-greedily
            wc = ""
            wt = 0
            for w in line.split(" "):
                t = count(w + " ")
                if wc and wt + t > max_tokens:
                    chunks.append(wc.strip())
                    wc, wt = w + " ", t
                else:
                    wc += w + " "
                    wt += t
            if wc:
                cur = wc.strip() + "\n"
                cur_tok = count(cur)
    if cur:
        chunks.append(cur.rstrip("\n"))
    return chunks


@pytest.mark.parametrize("budget", [30, 100, 2000])
def test_chunk_text_matches_reference_spec_on_fixture(budget):
    if not os.path.exists(REFERENCE_FIXTURE):
        pytest.skip("reference fixture not available")
    text = open(REFERENCE_FIXTURE).read()
    assert chunk_text(text, budget) == _spec_chunks(
        text, budget, count_tokens_str
    )


def test_chunk_parity_with_real_cl100k_encoder():
    """Where tiktoken imports, it is the active counter, and the
    boundaries must still match the spec oracle counting with cl100k
    (auto-skips where tiktoken is absent)."""
    tiktoken = pytest.importorskip("tiktoken")
    if not os.path.exists(REFERENCE_FIXTURE):
        pytest.skip("reference fixture not available")
    enc = tiktoken.get_encoding("cl100k_base")
    text = open(REFERENCE_FIXTURE).read()
    assert chunk_text(text, 100) == _spec_chunks(
        text, 100, lambda s: len(enc.encode(s))
    )
