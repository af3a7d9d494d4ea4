"""Pure-Python byte-level BPE, tiktoken-compatible.

Implements the exact encoding algorithm tiktoken's cl100k_base uses —
regex pre-tokenization into pieces, then iterated lowest-rank adjacent
pair merging over each piece's UTF-8 bytes (the public BPE algorithm;
see openai/tiktoken's educational implementation and Sennrich et al.
2016). Given the same vocabulary, token IDs and counts match tiktoken
bit-for-bit, which closes the reference parity gap (reference
internal/cli/estimation.go:13-36 counts with cl100k_base).

What is deliberately NOT vendored is the cl100k_base vocabulary DATA:
~1.7 MB of base64 merge ranks that exist only as a downloadable
artifact. This container has no network and no tiktoken wheel to lift
it from, so the vocabulary arrives via a file instead: any
``.tiktoken``-format file (``<base64-token> <rank>`` per line) is
loaded with :func:`load_tiktoken_ranks`. After
``functions.tokens.install_cl100k_from_file(path)`` on the driver,
every plan built by a consumer of the token seam — counting, chunk
boundaries, cost pre-flight — counts with exact cl100k instead of the
4-chars-per-token heuristic, with no code change.

The encoder object is picklable (plain dicts + pattern string; the
compiled regex and the count memo are rebuilt lazily after
unpickling), so it rides Spark task closures: each task unpickles its
own copy, and its memo lives as long as that task.
"""

from __future__ import annotations

import base64
from collections.abc import Iterable

# The cl100k_base pre-tokenization pattern, published in openai/tiktoken
# (tiktoken_ext/openai_public.py). Requires the `regex` module for
# \p{L}/\p{N} classes and possessive quantifiers.
CL100K_PATTERN = (
    r"""'(?i:[sdmt]|ll|ve|re)|[^\r\n\p{L}\p{N}]?+\p{L}+|\p{N}{1,3}"""
    r"""| ?[^\s\p{L}\p{N}]++[\r\n]*|\s*[\r\n]|\s+(?!\S)|\s+"""
)

# cl100k_base special tokens (public, same source).
CL100K_SPECIAL_TOKENS = {
    "<|endoftext|>": 100257,
    "<|fim_prefix|>": 100258,
    "<|fim_middle|>": 100259,
    "<|fim_suffix|>": 100260,
    "<|endofprompt|>": 100276,
}


def load_tiktoken_ranks(path: str) -> dict[bytes, int]:
    """Parse a ``.tiktoken`` vocabulary file: one ``<base64> <rank>``
    pair per line (the on-disk format tiktoken itself downloads)."""
    ranks: dict[bytes, int] = {}
    with open(path, "rb") as fh:
        for line in fh:
            line = line.strip()
            if not line:
                continue
            token_b64, rank = line.split()
            ranks[base64.b64decode(token_b64)] = int(rank)
    return ranks


class BytePairEncoder:
    """Byte-level BPE encoder over an explicit rank table.

    ``ranks`` maps token bytes -> rank/ID; every single byte that can
    appear in input must be present (true of cl100k, which assigns all
    256 bytes) or :meth:`encode` raises ``KeyError`` — a loud signal of
    a truncated vocabulary rather than silently wrong counts.
    """

    # Bound on the per-encoder piece→token-count memo (see count()).
    # Pieces are short strings (regex pre-tokens, mostly words); 2^18
    # entries is a few tens of MB worst case — enough to cover any
    # natural-language working set while bounding executor memory.
    _COUNT_MEMO_MAX = 1 << 18
    # Longer pieces (long letter or whitespace runs, e.g. base64
    # blobs) rarely repeat, and caching them would leave the memo's
    # key bytes unbounded under the entry cap.
    _COUNT_MEMO_PIECE_MAX = 64

    def __init__(self, ranks: dict[bytes, int], pattern: str = CL100K_PATTERN):
        self.ranks = ranks
        self.pattern = pattern
        self._pat = None  # compiled lazily; regex objects don't pickle
        self._decode = None
        self._count_memo: dict[str, int] | None = None

    def __getstate__(self):
        return {"ranks": self.ranks, "pattern": self.pattern}

    def __setstate__(self, state):
        self.ranks = state["ranks"]
        self.pattern = state["pattern"]
        self._pat = None
        self._decode = None
        self._count_memo = None

    def _compiled(self):
        if self._pat is None:
            import regex

            self._pat = regex.compile(self.pattern)
        return self._pat

    def pieces(self, text: str) -> list[str]:
        """Regex pre-tokenization (exposed for tests/debugging)."""
        return self._compiled().findall(text)

    def _merge_piece(self, piece: bytes) -> list[int]:
        parts = [piece[i : i + 1] for i in range(len(piece))]
        ranks = self.ranks
        while len(parts) > 1:
            best_rank: int | None = None
            best_i = -1
            for i in range(len(parts) - 1):
                r = ranks.get(parts[i] + parts[i + 1])
                if r is not None and (best_rank is None or r < best_rank):
                    best_rank, best_i = r, i
            if best_rank is None:
                break
            parts[best_i : best_i + 2] = [parts[best_i] + parts[best_i + 1]]
        return [ranks[p] for p in parts]

    def encode(self, text: str) -> list[int]:
        """Encode ignoring special-token markup (tiktoken's
        ``encode_ordinary`` — the right semantics for counting and
        chunking arbitrary corpus text, where ``<|endoftext|>`` in a
        document is data, not control)."""
        out: list[int] = []
        for piece in self.pieces(text):
            pb = piece.encode("utf-8")
            ranks = self.ranks
            cached = ranks.get(pb)
            if cached is not None:  # whole piece is a vocab token
                out.append(cached)
            else:
                out.extend(self._merge_piece(pb))
        return out

    def count(self, text: str) -> int:
        """Token count without materializing ids, memoized per piece.

        BPE is deterministic per pre-tokenization piece, and corpus
        pieces repeat heavily (words), so a piece→count dict collapses
        the merge loop to a lookup for every repeat — the guide §4.5
        heavyweight-state-per-task pattern applied to the merge work
        itself. The memo is bounded in entries (``_COUNT_MEMO_MAX``)
        and in key length (``_COUNT_MEMO_PIECE_MAX``), and the value
        is exactly ``len(self.encode(text))`` whether or not a piece
        is cached (round-15 optimization; property-pinned in
        tests/test_bpe.py)."""
        memo = self._count_memo
        if memo is None:
            memo = self._count_memo = {}
        ranks = self.ranks
        total = 0
        for m in self._compiled().finditer(text):
            piece = m.group()
            c = memo.get(piece)
            if c is None:
                pb = piece.encode("utf-8")
                if pb in ranks:
                    c = 1
                else:
                    c = len(self._merge_piece(pb))
                if (
                    len(piece) <= self._COUNT_MEMO_PIECE_MAX
                    and len(memo) < self._COUNT_MEMO_MAX
                ):
                    memo[piece] = c
            total += c
        return total

    def decode(self, ids: Iterable[int]) -> str:
        if self._decode is None:
            self._decode = {v: k for k, v in self.ranks.items()}
        return b"".join(self._decode[i] for i in ids).decode(
            "utf-8", errors="replace"
        )
