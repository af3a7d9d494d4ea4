"""Token counting and the model cost table.

Mirrors the reference's estimation surface (reference
internal/cli/estimation.go:13-36 — cl100k_base token count; :39-44 —
the 4-model input-cost table, kept verbatim below).

Counter resolution order: a custom counter installed via
``set_token_counter`` > tiktoken (if importable) > the pure-Python
cl100k BPE in functions/bpe.py (exact algorithm; activates when a
vocabulary file is supplied via SPARK_GRAFT_CL100K_PATH or
``install_cl100k_from_file`` — the vocab data itself can't be vendored
offline) > the deterministic heuristic below.

With none of the exact encoders available, ``count_tokens`` uses a
deterministic BPE-ish approximation: each
whitespace-delimited word contributes max(1, ceil(len/4)) tokens
(≈4 chars per BPE token, the published cl100k rule of thumb);
punctuation is counted as part of the word it touches, not separately
— this word-only rule is what token_count_col and the _DUCK_TOKENS
oracle implement, so all three stay in lockstep. The implementation is
vectorized (operates on whole pandas Series) so the Spark pandas-UDF
path ships Arrow batches, never single rows.
"""

from __future__ import annotations

import re

import pandas as pd

try:  # pragma: no cover - container has no tiktoken
    import tiktoken

    _ENC = tiktoken.get_encoding("cl100k_base")
except Exception:  # ImportError or download failure
    _ENC = None

# Exact cl100k without tiktoken: the BPE *algorithm* is implemented in
# functions/bpe.py (pure Python, tiktoken-compatible); only the ~1.7 MB
# vocabulary file can't be vendored offline. If one is provided, use it
# ahead of the heuristic (but below tiktoken, which is Rust-fast).
import os as _os

_BPE = None
_cl100k_path = _os.environ.get("SPARK_GRAFT_CL100K_PATH")
if _ENC is None and _cl100k_path and _os.path.exists(_cl100k_path):
    from mapreduce_llm_spark.functions.bpe import (
        BytePairEncoder,
        load_tiktoken_ranks,
    )

    _BPE = BytePairEncoder(load_tiktoken_ranks(_cl100k_path))


# Fixed name a driver-installed vocab ships to executors under (via
# SparkContext.addFile); workers lazily pick it up from SparkFiles.
_SHIPPED_VOCAB = "mrs_cl100k.tiktoken"

# sha256 of the vocab already shipped to executors in this application
# (None = nothing shipped yet). addFile publishes under the FIXED
# basename above, and Spark's dependency fetch fails app-wide if the
# same name is re-added with different contents — so only ONE vocab
# can ever be shipped per SparkContext, and this guard makes that
# contract explicit instead of letting a second install poison every
# subsequent task.
_SHIPPED_DIGEST: str | None = None


def install_cl100k_from_file(path: str, spark=None) -> None:
    """Load a ``.tiktoken``-format cl100k vocabulary file and make the
    pure-Python BPE the active counter — on the DRIVER immediately,
    and on every EXECUTOR via ``SparkContext.addFile`` (setting a
    module global alone would be driver-only: Python workers re-import
    this module fresh and would silently keep the heuristic). Pass the
    active ``SparkSession`` (or let it be discovered); with no session
    the install is driver-local and the env-var path
    (SPARK_GRAFT_CL100K_PATH, visible to workers at JVM launch)
    remains the distributed channel.

    ONE executor install per SparkContext: addFile publishes under a
    fixed basename, and re-adding that name with different bytes makes
    every executor's dependency fetch fail ("file exists and does not
    match contents") — breaking ALL subsequent tasks, not just token
    counting. Worse, workers that already loaded the first vocab never
    refresh (their ``_BPE`` is set), so a second install would be both
    job-breaking and ineffective. A repeat install with identical
    contents is a no-op; with different contents it raises before any
    state is touched."""
    global _BPE, _SHIPPED_DIGEST
    import hashlib as _hashlib

    from mapreduce_llm_spark.functions.bpe import (
        BytePairEncoder,
        load_tiktoken_ranks,
    )

    with open(path, "rb") as fh:
        digest = _hashlib.sha256(fh.read()).hexdigest()
    if spark is None:
        try:
            from pyspark.sql import SparkSession

            spark = SparkSession.getActiveSession()
        except Exception:
            spark = None
    if (
        spark is not None
        and _SHIPPED_DIGEST is not None
        and digest != _SHIPPED_DIGEST
    ):
        raise RuntimeError(
            "a different cl100k vocab was already shipped to executors "
            "for this application; one install per SparkContext is "
            "supported (restart the session to switch vocabularies)"
        )
    _BPE = BytePairEncoder(load_tiktoken_ranks(path))
    if spark is not None and digest != _SHIPPED_DIGEST:
        import shutil as _shutil
        import tempfile as _tempfile

        # re-publish under the FIXED basename workers look for
        d = _tempfile.mkdtemp(prefix="mrs_vocab_")
        shipped = _os.path.join(d, _SHIPPED_VOCAB)
        _shutil.copyfile(path, shipped)
        spark.sparkContext.addFile(shipped)
        _SHIPPED_DIGEST = digest


def _lazy_worker_vocab() -> None:
    """Executor-side pickup of a driver-installed vocab. The negative
    case is deliberately NOT memoized: reused python workers outlive a
    later ``install_cl100k_from_file`` on the driver, and SparkFiles'
    app-level directory makes the file visible to them as soon as it
    ships — a sticky miss would pin such workers to the heuristic. The
    miss cost is one path probe, comparable to the heuristic's own
    regex work."""
    global _BPE
    if _BPE is not None:
        return
    try:
        from pyspark import SparkFiles

        p = SparkFiles.get(_SHIPPED_VOCAB)
        if p and _os.path.exists(p):
            from mapreduce_llm_spark.functions.bpe import (
                BytePairEncoder,
                load_tiktoken_ranks,
            )

            _BPE = BytePairEncoder(load_tiktoken_ranks(p))
    except Exception:
        pass  # no Spark worker context / no shipped vocab: heuristic

# chars-per-token heuristic used when tiktoken is absent
_CHARS_PER_TOKEN = 4
_WORD_RE = re.compile(r"\S+")


# Plug-in seam: a caller-supplied encoder takes precedence over both
# tiktoken and the heuristic, so a real cl100k (or any other) encoder
# can be dropped in without code changes — e.g. a vendored pure-Python
# BPE, or tiktoken installed outside this container. The callable maps
# str -> token count.
_CUSTOM_COUNTER = None


def set_token_counter(counter) -> None:
    """Install (or with None, remove) a custom ``str -> int`` token
    counter. Overrides tiktoken and the heuristic for every consumer:
    count_tokens_str, the pandas UDF, chunking, and cost estimation.

    NOTE: the installed callable is captured by Spark UDF closures, so
    it must be picklable (a module-level function, not a lambda holding
    unpicklable state) when used in distributed paths."""
    global _CUSTOM_COUNTER
    _CUSTOM_COUNTER = counter


def count_tokens_str(text: str) -> int:
    """Token count of one string (custom counter if installed, exact
    via tiktoken when present, deterministic approximation otherwise)."""
    if _CUSTOM_COUNTER is not None:
        return _CUSTOM_COUNTER(text)
    if _ENC is not None:
        return len(_ENC.encode(text))
    if _BPE is None:
        _lazy_worker_vocab()
    if _BPE is not None:
        return _BPE.count(text)
    if not text:
        return 0
    # ceil division; a word is never empty, so each counts >= 1 token
    return sum(
        (len(w) + _CHARS_PER_TOKEN - 1) // _CHARS_PER_TOKEN
        for w in _WORD_RE.findall(text)
    )


def count_tokens_series(texts: pd.Series) -> pd.Series:
    """Vectorized token count for a pandas Series of strings."""
    return texts.fillna("").map(count_tokens_str).astype("int64")


def make_count_tokens_udf():
    """Build the Arrow-vectorized pandas UDF (session must exist)."""
    from pyspark.sql import functions as F

    @F.pandas_udf("long")
    def count_tokens(texts: pd.Series) -> pd.Series:
        return count_tokens_series(texts)

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
