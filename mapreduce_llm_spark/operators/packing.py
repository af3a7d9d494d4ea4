"""Sequence packing — combine short documents into fixed token-budget
training sequences (the complement of the chunker: the chunker splits
overlong docs, packing fills context windows with short ones so
training steps waste no pad tokens).

Reference grounding: generalizes the reference's token-budget packing
loop (reference internal/cli/mapreduce.go:199-263) from "split one
document into chunks" to "pack many documents into sequences" — the
same greedy accumulate-and-flush, one level up the hierarchy.

Spark shape: docs hash-shard on doc_id, then ONE applyInPandas pass
packs each shard independently (greedy in doc_id order). Packing is
inherently sequential per output sequence, but sequences never span
shards, so 100 TB packs with exactly one shuffle (the shard exchange)
and per-task state of one accumulator. Sequence ids are
(shard << 32) | local_index — globally unique without coordination.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from mapreduce_llm_spark.functions.tokens import token_counter

DEFAULT_SEQ_BUDGET = 2048


def pack_sequences(
    docs: DataFrame,
    budget: int = DEFAULT_SEQ_BUDGET,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_shards: int = 32,
) -> DataFrame:
    """(id, text) → (id, seq_id, seq_pos, n_tokens): greedy first-fit
    packing of documents into sequences of ≤ ``budget`` tokens.

    Invariants (property-tested in tests/test_packing.py):
    - every input doc appears in exactly one sequence, once;
    - a sequence only exceeds the budget when it holds a single
      overlong doc (callers chunk those first — operators/chunker.py);
    - seq_pos is consecutive from 0 in packing order;
    - deterministic: same doc set → same packing, independent of input
      partitioning (shard = hash(doc_id), packing order = doc_id).

    The token counter is resolved on the driver and rides the task
    closure.
    """
    count = token_counter()

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        shard = int(pdf["_shard"].iloc[0])
        pdf = pdf.sort_values(id_col)
        ids: list = []
        seq_ids: list[int] = []
        seq_pos: list[int] = []
        toks: list[int] = []
        seq = 0
        cur_tokens = 0
        cur_len = 0
        for doc_id, text in zip(pdf[id_col], pdf[text_col]):
            t = count(text or "")
            if cur_len and cur_tokens + t > budget:
                seq += 1
                cur_tokens = 0
                cur_len = 0
            ids.append(doc_id)
            seq_ids.append((shard << 32) | seq)
            seq_pos.append(cur_len)
            toks.append(t)
            cur_tokens += t
            cur_len += 1
        return pd.DataFrame(
            {id_col: ids, "seq_id": seq_ids, "seq_pos": seq_pos, "n_tokens": toks}
        )

    id_type = docs.schema[id_col].dataType.simpleString()
    sharded = docs.select(id_col, text_col).withColumn(
        "_shard", F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_shards))
    )
    return sharded.groupBy("_shard").applyInPandas(
        pack, schema=f"{id_col} {id_type}, seq_id long, seq_pos long, n_tokens long"
    )
