"""Seeded LLM-pipeline inputs and their expected output, in plain Python.

Both LLM workloads use the same lines: the benchmark's document texts
(``gen.document_texts`` under the fixed data seed) shuffled by the
workload seed. ``expected_output`` is what ``write_text_sink`` must
produce for ``KeywordClient``: per document in ``doc_id`` order, the
document's keyword lines (each newline-terminated), then the sink's
own row separator.
"""

from __future__ import annotations

import numpy as np

from perfbench.gen import DATA_SEED, document_texts

KEYWORD = "hash join"
PROMPT = "Select the lines that mention a hash join."


def corpus_lines(seed: int, n_lines: int) -> list[str]:
    lines = document_texts(np.random.default_rng(DATA_SEED), n_lines)
    order = np.random.default_rng(seed).permutation(n_lines)
    return [lines[i] for i in order]


def split_documents(lines: list[str], lines_per_doc: int) -> list[tuple[int, str]]:
    """Consecutive runs of ``lines_per_doc`` lines → (doc_id, text)."""
    return [
        (i // lines_per_doc, "\n".join(lines[i : i + lines_per_doc]))
        for i in range(0, len(lines), lines_per_doc)
    ]


def prefilled_ids(seed: int, n_docs: int, share: float) -> list[int]:
    """The seed-chosen documents whose results are cached before timing."""
    k = int(round(n_docs * share))
    rng = np.random.default_rng(seed + 1)
    return sorted(int(i) for i in rng.choice(n_docs, size=k, replace=False))


def expected_output(docs: list[tuple[int, str]], keyword: str = KEYWORD) -> str:
    out = []
    for _, text in sorted(docs):
        kept = "".join(line + "\n" for line in text.split("\n") if keyword in line)
        out.append(kept + "\n")
    return "".join(out)
