"""Deduplication operators for large-scale training-data pipelines.

Four families, all designed so the candidate-generation step is
band/bucket-blocked — never an all-pairs join — which is what keeps
them viable at 100 TB:

- exact: normalize → hash-groupBy (one shuffle on the hash key);
- MinHash + LSH: shingle → minhash signature → band keys → bucket
  self-join → exact-Jaccard verify. Entirely JVM-side built-ins
  (xxhash64 / array higher-order functions) — no Python in the path;
- SimHash: 64-bit fingerprint via a vectorized pandas UDF (bit-level
  popcount math is clearer in numpy), candidates blocked on 16-bit
  bands (a fingerprint pair within hamming distance d shares at least
  one of 4 bands when d ≤ 3 — pigeonhole);
- n-gram Jaccard: exact set similarity on word shingles for blocked
  candidate pairs (the verify stage usable standalone).

No counterpart in the reference (its pipeline has no dedup); these are
the north-star LLM-data-pipeline additions (BASELINE.json).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


def normalize_text(col: Column) -> Column:
    """lower + trim + collapse internal whitespace."""
    return F.regexp_replace(F.trim(F.lower(col)), r"\s+", " ")


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup on normalized text: one survivor (min id) per group.

    groupBy on the normalized text, not dropDuplicates: survivor choice
    is deterministic, and at scale you'd groupBy sha2(norm) to shuffle
    64-byte keys instead of document bodies.
    """
    norm = normalize_text(F.col(text_col)).alias("norm_text")
    return (
        df.select(norm, F.col(id_col))
        .groupBy("norm_text")
        .agg(
            F.min(id_col).alias("survivor_id"),
            F.count("*").alias("n_copies"),
        )
    )


def word_shingles(col: Column, k: int = 3) -> Column:
    """Distinct k-word shingles of a text column (JVM-side).

    Texts shorter than k words contribute their whole normalized text
    as a single shingle so they can still match exact copies.

    The words array is bound ONCE per row via a single-element
    ``transform`` lambda before any shingle references it. Referencing
    the raw expression directly would re-evaluate the whole
    normalize→split→filter chain for every ``element_at`` (3 per
    shingle + 1 for size) — measured 17 s for 5 000 docs at sf0.1,
    ~0.5 s with the binding."""
    words = F.filter(F.split(normalize_text(col), " "), lambda w: w != "")

    def mk(ws: Column) -> Column:
        n = F.size(ws)
        shingles = F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.concat_ws(
                " ", *[F.element_at(ws, i + j) for j in range(k)]
            ),
        )
        return F.when(n >= k, F.array_distinct(shingles)).otherwise(
            F.array(F.concat_ws(" ", ws))
        )

    return F.element_at(F.transform(F.array(words), mk), 1)


def minhash_signature(shingles: Column, num_hashes: int = 32) -> Column:
    """MinHash signature: per hash seed i, min over shingles of
    xxhash64(shingle, i). Fixed seeds → fully deterministic."""
    return F.array(
        *[
            F.array_min(F.transform(shingles, lambda s, i=i: F.xxhash64(s, F.lit(i))))
            for i in range(num_hashes)
        ]
    )


def lsh_band_keys(sig: Column, bands: int, rows: int) -> Column:
    """Hash each band (slice of the signature) to one bucket key."""
    return F.array(
        *[
            F.xxhash64(
                F.concat_ws(",", *[sig[b * rows + r] for r in range(rows)]),
                F.lit(b),
            )
            for b in range(bands)
        ]
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard similarity of two (distinct-element) arrays."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return F.when(union > 0, inter / union).otherwise(F.lit(0.0))


def incremental_exact_dedup(
    new_df: DataFrame, seen_df: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Cross-snapshot dedup: rows of ``new_df`` that are not exact
    (normalized) duplicates of anything in ``seen_df``, collapsed to
    one survivor (min id) per normalized text within the new batch.

    The production ingest pattern: each arriving batch anti-joins the
    already-ingested corpus, then self-dedupes. Keys are
    sha2(normalized text) so the anti-join shuffles 64-byte digests,
    not document bodies — ``seen_df`` can be a key-only snapshot table
    maintained by appending each batch's kept keys. Returns all of
    ``new_df``'s columns for the survivors.
    """
    key = F.sha2(normalize_text(F.col(text_col)), 256)
    seen_keys = seen_df.select(key.alias("_k")).distinct()
    fresh = new_df.withColumn("_k", key).join(seen_keys, "_k", "left_anti")
    surv = fresh.groupBy("_k").agg(F.min(id_col).alias(id_col))
    return fresh.join(surv, ["_k", id_col], "left_semi").drop("_k")


def incremental_near_dup_filter(
    new_df: DataFrame,
    seen_df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
) -> DataFrame:
    """Rows of ``new_df`` that are near-duplicates of nothing — neither
    of ``seen_df`` (the ingested corpus) nor of a lower-id row within
    the batch itself.

    Composes minhash_near_dup_pairs over the tagged union: a new doc
    is dropped iff it pairs (jaccard ≥ threshold) with any seen doc or
    with a smaller-id new doc (the batch-internal survivor rule).
    Requires ids disjoint across the two frames. At scale ``seen_df``
    is the corpus's persisted (id, text) — or a precomputed
    band-key table, in which case candidate generation skips
    re-signaturing the corpus; this composition recomputes it, trading
    compute for zero auxiliary state.
    """
    seen_ids = seen_df.select(F.col(id_col).alias("_sid"))
    union = seen_df.select(
        F.col(id_col).alias(id_col), F.col(text_col).alias(text_col)
    ).unionByName(new_df.select(id_col, text_col))
    pairs = minhash_near_dup_pairs(
        union,
        text_col,
        id_col,
        threshold=threshold,
        num_hashes=num_hashes,
        bands=bands,
        shingle_k=shingle_k,
    )
    # pairs are (id_a < id_b). A NEW doc is dropped when it is the
    # larger side of any pair (the other side is seen, or an earlier
    # new doc — the batch-internal survivor rule), or the smaller side
    # of a pair whose larger side is seen (id order says nothing about
    # which frame a doc came from). Seen docs are never dropped.
    new_ids = new_df.select(F.col(id_col).alias("_nid"))
    drop_larger = pairs.join(
        new_ids, pairs["id_b"] == new_ids["_nid"], "left_semi"
    ).select(F.col("id_b").alias("_drop_id"))
    drop_vs_seen = (
        pairs.join(seen_ids, pairs["id_b"] == seen_ids["_sid"], "left_semi")
        .join(new_ids, pairs["id_a"] == new_ids["_nid"], "left_semi")
        .select(F.col("id_a").alias("_drop_id"))
    )
    dropped = drop_larger.unionByName(drop_vs_seen).distinct()
    return new_df.join(
        dropped, new_df[id_col] == dropped["_drop_id"], "left_anti"
    )


def minhash_near_dup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    max_bucket_size: int | None = 1000,
) -> DataFrame:
    """Near-duplicate pairs (id_a < id_b, jaccard ≥ threshold).

    Candidates come only from shared LSH buckets: explode band keys,
    self-join on (band_index, band_key), distinct the pairs, then
    verify with exact Jaccard on the shingle sets. The self-join is on
    the exploded bucket table — proportional to bucket occupancy, not
    |df|² (the all-pairs trap).

    ``max_bucket_size`` guards the degenerate-bucket blow-up: a bucket
    that collects m documents (e.g. a boilerplate shingle shared by
    everything) contributes m²/2 candidate pairs and m² shuffled rows
    — one pathological key can dwarf the rest of the job. Buckets over
    the cap are dropped from candidate generation (pairs they'd find
    are either found in another band or are not near-dups at the
    threshold with overwhelming probability); ``None`` disables.

    The pair set is computed eagerly and the internal shingle cache is
    released before returning, so no cache outlives the call.
    """
    rows = num_hashes // bands
    # shingles carried as 64-bit fingerprints: minhash seeds and the
    # exact-Jaccard verify both run over longs (~3× cheaper than
    # string sets; collision risk is the 64-bit birthday bound)
    base = df.select(
        F.col(id_col).alias("_id"),
        F.transform(
            word_shingles(F.col(text_col), shingle_k), lambda s: F.xxhash64(s)
        ).alias("_shingles"),
    ).withColumn("_bands", lsh_band_keys(minhash_signature(F.col("_shingles"), num_hashes), bands, rows))
    # base feeds candidate generation AND both sides of the verify
    # join; without a persist the shingle+signature expressions (the
    # CPU-heavy part) re-evaluate up to 4x. At cluster scale use
    # MEMORY_AND_DISK or a checkpoint — same intent.
    base = base.persist()

    buckets = base.select(
        "_id", F.posexplode("_bands").alias("_band_ix", "_band_key")
    )
    if max_bucket_size is not None:
        # round-14 optimization: the occupancy cap is a window count
        # over the same (band, key) the candidate self-join shuffles on
        # — one exchange that the join then reuses — instead of a
        # separate aggregate + join-back of the bucket table (two extra
        # shuffles of the exploded band rows). Same rows survive.
        # Memory-shape trade-off (advisor round 14): WindowExec buffers
        # each (band, key) bucket in one task's frame buffer BEFORE the
        # filter drops oversized ones, so the degenerate mega-bucket
        # the cap exists for is materialized once (spill-backed —
        # UnsafeExternalSorter spills past
        # spark.sql.windowExec.buffer.spill.threshold, so this is a
        # slow-task risk, not an OOM). If adversarial single-key skew
        # is expected upstream, prefer the old aggregate+join form,
        # which streams the mega-bucket through a broadcast filter.
        wb = Window.partitionBy("_band_ix", "_band_key")
        buckets = (
            buckets.withColumn("_bucket_n", F.count(F.lit(1)).over(wb))
            .filter(F.col("_bucket_n") <= max_bucket_size)
            .drop("_bucket_n")
        )
    left = buckets.alias("l")
    right = buckets.alias("r")
    cand = (
        left.join(
            right,
            (F.col("l._band_ix") == F.col("r._band_ix"))
            & (F.col("l._band_key") == F.col("r._band_key"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(F.col("l._id").alias("id_a"), F.col("r._id").alias("id_b"))
        .distinct()
    )
    a = base.select(F.col("_id").alias("id_a"), F.col("_shingles").alias("_sh_a"))
    b = base.select(F.col("_id").alias("id_b"), F.col("_shingles").alias("_sh_b"))
    out = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .withColumn("jaccard_sim", jaccard(F.col("_sh_a"), F.col("_sh_b")))
        .filter(F.col("jaccard_sim") >= threshold)
        .select("id_a", "id_b", F.round("jaccard_sim", 4).alias("jaccard_sim"))
    )
    # Materialize the (small) pair set eagerly so the shingle cache can
    # be released HERE rather than leaking into the session's cache
    # manager until someone remembers an unpersist (every registered
    # query forgot — a slow leak in a long-lived service). The
    # checkpointed blocks are reaped by the ContextCleaner on GC; at
    # cluster scale localCheckpoint is non-replicated, so swap for a
    # reliable checkpoint dir if executor loss must not fail the job.
    # Serialized storage: the near-dup pair set scales with corpus
    # duplicate density (the q_graph_bfs round-12 SF-scaling-checkpoint
    # rule; MEMORY_AND_DISK is serialized in PySpark).
    out = out.localCheckpoint(eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK)
    base.unpersist()
    return out


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    block_cols: list[str],
    *,
    threshold: float = 0.2,
    shingle_k: int = 3,
) -> DataFrame:
    """Exact n-gram Jaccard within blocking groups (id_a < id_b).

    Blocking keys bound the pair count; for unblockable corpora use
    minhash_near_dup_pairs instead.

    Implementation is an inverted-index join, not a blocked cross:
    explode (doc, shingle-fingerprint), equi-join on (block, shingle),
    count matches per (id_a, id_b) → |A∩B|, then
    jaccard = inter / (|A| + |B| - inter). Only pairs that share ≥ 1
    shingle ever materialize — the blocked-cross variant evaluates two
    hash-set ops for every one of the O(block²) pairs, shared shingle
    or not. Requires ``threshold > 0`` (zero-overlap pairs are never
    emitted). Shingles are carried as xxhash64 fingerprints: the join
    key is 8 bytes and the Jaccard value changes only if two distinct
    shingles of the same doc pair collide in 64 bits (birthday bound
    ≪ 1e-8) — the string-exact DuckDB oracle still hash-matches.
    At scale a hot shingle contributes O(df²) join rows; AQE skew-join
    splits those partitions, and stop-word-like shingles can be
    dropped by a max-document-frequency filter upstream.
    """
    if threshold <= 0:
        raise ValueError("inverted-index jaccard requires threshold > 0")
    base = df.select(
        F.col(id_col).alias("_id"),
        *[F.col(c) for c in block_cols],
        F.transform(
            word_shingles(F.col(text_col), shingle_k), lambda s: F.xxhash64(s)
        ).alias("_sh"),
    ).persist()  # both join sides read it; don't shingle twice
    tok = base.select(
        "_id", *block_cols, F.size("_sh").alias("_n"), F.explode("_sh").alias("_t")
    )
    a = tok.select(
        F.col("_id").alias("id_a"),
        *block_cols,
        F.col("_n").alias("_n_a"),
        "_t",
    )
    b = tok.select(
        F.col("_id").alias("id_b"),
        *[F.col(c).alias(f"{c}_b") for c in block_cols],
        F.col("_n").alias("_n_b"),
        F.col("_t").alias("_t_b"),
    )
    cond = (F.col("id_a") < F.col("id_b")) & (F.col("_t") == F.col("_t_b"))
    for c in block_cols:
        cond = cond & (F.col(c) == F.col(f"{c}_b"))
    inter = (
        a.join(b, cond)
        .groupBy("id_a", "id_b", "_n_a", "_n_b")
        .agg(F.count("*").alias("_inter"))
    )
    jac = F.col("_inter") / (F.col("_n_a") + F.col("_n_b") - F.col("_inter"))
    out = (
        inter.withColumn("jaccard_sim", jac)
        .filter(F.col("jaccard_sim") >= threshold)
        .select("id_a", "id_b", F.round("jaccard_sim", 4).alias("jaccard_sim"))
    )
    # see minhash_near_dup_pairs: eager-materialize the small pair set,
    # release the shingle cache deterministically inside the operator
    out = out.localCheckpoint(eager=True, storageLevel=StorageLevel.MEMORY_AND_DISK)
    base.unpersist()
    return out


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 64


def simhash_fingerprints(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """64-bit SimHash per document → (id, simhash).

    Per word: a stable 64-bit hash (sha1-derived — NOT Python's salted
    hash()); fingerprint bit b is 1 iff the sum of ±1 votes over words
    is positive. Vectorized per Arrow batch in a pandas UDF.
    """

    def fingerprint_batch(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import hashlib

        def fp(text: str) -> int:
            words = (text or "").lower().split()
            if not words:
                return 0
            votes = [0] * SIMHASH_BITS
            for w in words:
                h = int.from_bytes(
                    hashlib.sha1(w.encode()).digest()[:8], "big"
                )
                for b in range(SIMHASH_BITS):
                    votes[b] += 1 if (h >> b) & 1 else -1
            sig = 0
            for b in range(SIMHASH_BITS):
                if votes[b] > 0:
                    sig |= 1 << b
            # two's-complement into signed int64 for Spark LongType
            return sig - (1 << 64) if sig >= (1 << 63) else sig

        for pdf in batches:
            yield pd.DataFrame(
                {"_id": pdf[id_col], "simhash": [fp(t) for t in pdf[text_col]]}
            )

    return df.select(id_col, text_col).mapInPandas(
        fingerprint_batch, schema="_id long, simhash long"
    ).withColumnRenamed("_id", id_col)


def simhash_near_dup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    *,
    max_hamming: int = 3,
) -> DataFrame:
    """SimHash near-dup pairs with hamming distance ≤ max_hamming.

    Blocking: split the 64-bit fingerprint into 4 16-bit bands; any
    pair within hamming distance ≤ 3 must agree on ≥1 band
    (pigeonhole), so candidates come from a band-equality join, not
    all pairs. Verify with bit_count(xor).
    """
    fps = simhash_fingerprints(df, text_col, id_col).select(
        F.col(id_col).alias("_id"), "simhash"
    )
    n_bands = 4
    banded = fps.select(
        "_id",
        "simhash",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("simhash"), 16 * b).bitwiseAND(F.lit(0xFFFF))
                    for b in range(n_bands)
                ]
            )
        ).alias("_band_ix", "_band_val"),
    )
    l, r = banded.alias("l"), banded.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l._band_ix") == F.col("r._band_ix"))
            & (F.col("l._band_val") == F.col("r._band_val"))
            & (F.col("l._id") < F.col("r._id")),
        )
        .select(
            F.col("l._id").alias("id_a"),
            F.col("r._id").alias("id_b"),
            F.col("l.simhash").alias("_ha"),
            F.col("r.simhash").alias("_hb"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("_ha").bitwiseXOR(F.col("_hb")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def dedup_survivors_from_pairs(
    pairs: DataFrame, all_ids: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Near-dup PAIRS → per-document cluster labels and a keep flag.

    Pairs (id_a, id_b) from any detector (minhash/simhash/ngram/embed)
    are only half a dedup: transitively connected documents must
    collapse to ONE survivor. Runs connected components
    (operators/graph.py, oracle-proven) over the pair graph and keeps
    the min id per cluster; documents in no pair survive untouched.
    Returns (id, cluster, keep).
    """
    from mapreduce_llm_spark.operators.graph import connected_components

    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    comp = connected_components(edges)
    labeled = all_ids.select(F.col(id_col).alias("node")).join(
        comp, "node", "left"
    ).select(
        F.col("node").alias(id_col),
        F.coalesce("component", F.col("node")).alias("cluster"),
    )
    return labeled.withColumn("keep", F.col(id_col) == F.col("cluster"))
