"""Token counting and the model cost table.

Mirrors the reference's estimation surface (reference
internal/cli/estimation.go:13-36 — cl100k_base token count; :39-44 —
the 4-model input-cost table, kept verbatim below).

``token_counter()`` resolves the active ``str -> int`` counter: tiktoken's
cl100k if it imports, else the pure-Python cl100k BPE in
functions/bpe.py once ``install_cl100k_from_file`` has loaded a
vocabulary file on the driver (the vocab data itself can't be vendored
offline), else the deterministic heuristic below. Distributed operators
(the chunker, sequence packing, the counting UDF) call it on the driver
when their plan is built, and the counter rides the pickled task like
any other closure value — PySpark broadcasts a command over 1 MB by
itself — so executors hold no counter state of their own. A plan keeps
the counter it was built with; an install or reset affects plans built
after it.

With none of the exact encoders available, the count is a
deterministic BPE-ish approximation: each
whitespace-delimited word contributes max(1, ceil(len/4)) tokens
(≈4 chars per BPE token, the published cl100k rule of thumb);
punctuation is counted as part of the word it touches, not separately
— this word-only rule is what token_count_col and the _DUCK_TOKENS
oracle implement, so all three stay in lockstep. The counting UDF maps
whole pandas Series, so the Spark path ships Arrow batches, never
single rows.
"""

from __future__ import annotations

import re
from collections.abc import Callable

import pandas as pd

try:  # pragma: no cover - container has no tiktoken
    import tiktoken

    _ENC = tiktoken.get_encoding("cl100k_base")
except Exception:  # ImportError or download failure
    _ENC = None

# Exact cl100k without tiktoken: the BPE *algorithm* is implemented in
# functions/bpe.py (pure Python, tiktoken-compatible); only the ~1.7 MB
# vocabulary file can't be vendored offline. install_cl100k_from_file
# sets this on the driver, ahead of the heuristic (but below tiktoken,
# which is Rust-fast).
_BPE = None


def install_cl100k_from_file(path: str) -> None:
    """Load a ``.tiktoken``-format cl100k vocabulary file and make the
    pure-Python BPE the driver's counter. Plans built after the call
    carry it to executors in their task closures."""
    global _BPE
    from mapreduce_llm_spark.functions.bpe import (
        BytePairEncoder,
        load_tiktoken_ranks,
    )

    _BPE = BytePairEncoder(load_tiktoken_ranks(path))


# chars-per-token heuristic used when tiktoken is absent
_CHARS_PER_TOKEN = 4
_WORD_RE = re.compile(r"\S+")


def _tiktoken_count(text: str) -> int:
    return len(_ENC.encode(text))


def _heuristic_count(text: str) -> int:
    if not text:
        return 0
    # ceil division; a word is never empty, so each counts >= 1 token
    return sum(
        (len(w) + _CHARS_PER_TOKEN - 1) // _CHARS_PER_TOKEN
        for w in _WORD_RE.findall(text)
    )


def token_counter() -> Callable[[str], int]:
    """The active ``str -> int`` counter (see the module docstring).
    Module functions pickle by reference and the BPE encoder by value,
    so the result can be captured in a Spark task closure."""
    if _ENC is not None:
        return _tiktoken_count
    if _BPE is not None:
        return _BPE.count
    return _heuristic_count


def count_tokens_str(text: str) -> int:
    """Token count of one string with the active counter."""
    return token_counter()(text)


def make_count_tokens_udf():
    """Build the Arrow-vectorized pandas UDF (session must exist); it
    counts with the counter active when it is built."""
    from pyspark.sql import functions as F

    count = token_counter()

    @F.pandas_udf("long")
    def count_tokens(texts: pd.Series) -> pd.Series:
        return texts.fillna("").map(count).astype("int64")

    return count_tokens


# Input cost per 1M tokens — the reference's table verbatim
# (reference internal/cli/estimation.go:39-44).
MODEL_COSTS_PER_1M_INPUT_TOKENS: dict[str, float] = {
    "gpt-5-nano": 0.05,
    "gpt-5-mini": 0.25,
    "gpt-5": 1.25,
    "gpt-5.1": 1.25,
}

DEFAULT_MODEL = "gpt-5-nano"  # reference cmd/cli/root.go:22


def estimate_cost_usd(n_tokens: int, model: str) -> float:
    """tokens × $/1M for one model (reference internal/cli/estimation.go:27-31)."""
    return n_tokens * MODEL_COSTS_PER_1M_INPUT_TOKENS[model] / 1_000_000.0
