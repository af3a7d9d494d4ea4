"""Port of the reference's estimation tests
(internal/cli/estimation_test.go:8-144): token-count plausibility,
cost-table exactness AND completeness, determinism."""

from __future__ import annotations

import math

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from mapreduce_llm_spark.functions import tokens
from mapreduce_llm_spark.functions.tokens import (
    DEFAULT_MODEL,
    MODEL_COSTS_PER_1M_INPUT_TOKENS,
    count_tokens_str,
    estimate_cost_usd,
)


def test_cost_table_exact_and_complete():
    """The four models and prices, verbatim from the reference
    (internal/cli/estimation.go:39-44)."""
    assert MODEL_COSTS_PER_1M_INPUT_TOKENS == {
        "gpt-5-nano": 0.05,
        "gpt-5-mini": 0.25,
        "gpt-5": 1.25,
        "gpt-5.1": 1.25,
    }
    assert DEFAULT_MODEL == "gpt-5-nano"


def test_cost_arithmetic():
    # 1M tokens of the default model costs exactly the table price
    assert estimate_cost_usd(1_000_000, "gpt-5-nano") == 0.05
    assert estimate_cost_usd(0, "gpt-5") == 0.0


def test_token_count_deterministic_and_plausible():
    text = "The quick brown fox jumps over the lazy dog. " * 20
    a, b = count_tokens_str(text), count_tokens_str(text)
    assert a == b  # determinism (estimation_test.go:126-144)
    # plausibility range: ~1 token per word give-or-take encoding
    n_words = len(text.split())
    assert n_words * 0.5 <= a <= n_words * 3


def test_token_count_monotone_in_content():
    assert count_tokens_str("") == 0
    assert count_tokens_str("one two three") < count_tokens_str(
        "one two three four five six seven"
    )


# Unicode whitespace that str.split() and \S both treat as a word break
_SPACES = " \t\n\r\x0b\x0c\x1c\x1d\x1e\x1f\x85\xa0\u1680\u2000\u2003\u200a\u2028\u2029\u202f\u205f\u3000"


@pytest.mark.skipif(
    tokens._ENC is not None or tokens._BPE is not None,
    reason="an exact encoder replaces the heuristic",
)
@settings(max_examples=300, deadline=None)
@given(st.text(alphabet=st.one_of(st.characters(), st.sampled_from(_SPACES))))
def test_heuristic_count_matches_ceil_formula(text):
    """The integer ceil division gives the same count as the
    ``max(1, ceil(len / 4))`` per-word rule it replaced."""
    expected = sum(max(1, math.ceil(len(w) / 4)) for w in tokens._WORD_RE.findall(text))
    assert count_tokens_str(text) == expected
