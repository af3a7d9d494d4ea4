"""Graduated oracle SQL.

``GRADUATED_ORACLES`` holds the DuckDB oracle SQL of queries that were
first registered rows-only and later given an oracle twin. The text
lives here rather than inline so the large SQL blocks don't swamp the
query modules; each ``@query(oracle=...)`` declaration references its
entry by name, and tests/test_future_oracles.py pins that every
graduated name is registered with exactly this SQL.
"""

from __future__ import annotations

# 40-bit md5 fingerprint of null-tagged, unit-separated columns —
# byte-for-byte the operators/validate.row_fingerprint definition.
_FP_DOC = """CAST(('0x' || substr(md5(concat_ws(chr(31),
        coalesce('v:' || CAST(lang AS VARCHAR), 'null'),
        coalesce('v:' || CAST(n_chars AS VARCHAR), 'null'))), 1, 10)) AS BIGINT)"""

_FP_CS = """CAST(('0x' || substr(md5(concat_ws(chr(31),
        coalesce('v:' || CAST(doc_id AS VARCHAR), 'null'),
        coalesce('v:' || CAST(source AS VARCHAR), 'null'),
        coalesce('v:' || CAST(n_chars AS VARCHAR), 'null'))), 1, 10)) AS BIGINT)"""

def _pagerank_sql(iters: int = 10, damping: float = 0.85) -> str:
    """Unrolled DuckDB replay of operators/graph.pagerank: one
    (dangling-mass, inflow, rank) CTE triple per iteration — a
    recursive CTE cannot aggregate over its own previous level, so the
    fixed iteration count is spelled out. Same constants, same
    expression tree ((1-d)/n + d*(inflow + dm/n)); the only slack is
    float summation order inside sum(rank/od), ~1e-16 relative, eight
    orders below the round(,8) emission — hash-proven at sf0.01 and
    sf0.1 by tests/test_oracle_queries.py.

    Every per-iteration CTE is AS MATERIALIZED: each r{i} is
    referenced three times (dangling leg, inflow leg, next rank), and
    DuckDB's default inlining would re-execute it per reference —
    3^10 plans, the same lineage explosion operators/graph.pagerank
    kills with its per-iteration localCheckpoint (first staging run
    hung exactly this way)."""
    ctes = [
        "edges AS MATERIALIZED (SELECT DISTINCT l_suppkey AS src,"
        " l_partkey + 100000 AS dst FROM lineitem)",
        "nodes AS MATERIALIZED (SELECT src AS node FROM edges"
        " UNION SELECT dst FROM edges)",
        "nn AS (SELECT count(*) AS n FROM nodes)",
        "outdeg AS MATERIALIZED (SELECT src, count(*) AS od FROM edges GROUP BY src)",
        "r0 AS MATERIALIZED (SELECT node, 1.0 / n AS rank FROM nodes, nn)",
    ]
    for i in range(iters):
        ctes.append(
            f"d{i} AS MATERIALIZED (SELECT coalesce(sum(rank), 0.0) AS dm FROM r{i}"
            " LEFT JOIN outdeg ON node = src WHERE src IS NULL)"
        )
        ctes.append(
            f"c{i} AS MATERIALIZED (SELECT e.dst AS node, sum(r.rank / o.od) AS inflow"
            f" FROM r{i} r JOIN outdeg o ON r.node = o.src"
            " JOIN edges e ON e.src = r.node GROUP BY e.dst)"
        )
        ctes.append(
            f"r{i + 1} AS MATERIALIZED (SELECT t.node,"
            f" (1.0 - {damping}) / n + {damping} * (coalesce(t.inflow, 0.0)"
            f" + d{i}.dm / n) AS rank"
            f" FROM (SELECT nodes.node, c{i}.inflow FROM nodes"
            f" LEFT JOIN c{i} ON nodes.node = c{i}.node) t, nn, d{i})"
        )
    return (
        "WITH " + ",\n    ".join(ctes) + f"""
    SELECT node, round(rank, 8) AS rank
    FROM r{iters}
    ORDER BY rank DESC, node ASC
    LIMIT 20
    """
    )


def _sim_recall_sql(n_planes: int = 4, dim: int = 64, seed: int = 42) -> str:
    """DuckDB replay of q_sim_recall: the seeded Gaussian hyperplanes
    (numpy RandomState — deterministic) are inlined as double literals
    (repr() round-trips, so DuckDB parses the identical doubles), the
    sign-LSH bucket and the 1-bit multiprobe set are recomputed in
    SQL, and both top-10 legs reuse q_sim_search's proven
    list_dot_product idiom. dim is the testdata embedding width; the
    staging test re-proves the twin every run, so a testdata dim drift
    fails loudly here, not in the driver."""
    import numpy as np

    planes = np.random.RandomState(seed).randn(n_planes, dim).tolist()

    def arr(p: list[float]) -> str:
        return "[" + ", ".join(repr(float(x)) for x in p) + "]"

    def bucket(col: str) -> str:
        return (
            "("
            + " + ".join(
                f"(CASE WHEN list_dot_product({col}, {arr(p)}) > 0"
                f" THEN {1 << i} ELSE 0 END)"
                for i, p in enumerate(planes)
            )
            + ")"
        )

    return f"""
    WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
    exact AS (
        SELECT e.vec_id,
               round(list_dot_product(e.embedding, q.qv)
                     / (sqrt(list_dot_product(e.embedding, e.embedding))
                        * sqrt(list_dot_product(q.qv, q.qv))), 4) AS cs
        FROM embeddings e, q
        ORDER BY cs DESC, e.vec_id ASC
        LIMIT 10
    ),
    qb AS (SELECT {bucket("qv")} AS b FROM q),
    ann AS (
        SELECT e.vec_id,
               round(list_dot_product(e.embedding, q.qv)
                     / (sqrt(list_dot_product(e.embedding, e.embedding))
                        * sqrt(list_dot_product(q.qv, q.qv))), 4) AS cs
        FROM embeddings e, q, qb
        WHERE {bucket("e.embedding")}
              IN (b, xor(b, 1), xor(b, 2), xor(b, 4), xor(b, 8))
        ORDER BY cs DESC, e.vec_id ASC
        LIMIT 10
    ),
    h AS (SELECT count(*) AS n_hits FROM exact
          WHERE vec_id IN (SELECT vec_id FROM ann)),
    kk AS (SELECT count(*) AS k FROM exact)
    SELECT CAST(k AS INT)      AS k,
           CAST(n_hits AS INT) AS n_hits,
           round(n_hits / k, 4) AS recall
    FROM h, kk
    """


_TEXT_FINGERPRINT_SQL = r"""
    WITH RECURSIVE ws AS (
        SELECT doc_id, lang,
               list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
                           w -> w <> '') AS words
        FROM documents
    ),
    mx AS (SELECT max(len(words)) AS m FROM ws),
    pow(k, v) AS (
        SELECT 0, CAST(1 AS BIGINT)
        UNION ALL
        SELECT k + 1, (v * 131) % 1000000007 FROM pow, mx WHERE k < m
    ),
    terms AS (
        SELECT doc_id, i, len(words) AS nw,
               CAST(('0x' || substr(md5(words[i]), 1, 10)) AS BIGINT)
                   % 1000000007 AS hw
        FROM ws, unnest(generate_series(1, len(words))) AS t(i)
    ),
    fp AS (
        SELECT doc_id,
               CAST(sum((hw * v) % 1000000007) % 1000000007 AS BIGINT)
                   AS fingerprint
        FROM terms JOIN pow ON pow.k = nw - i
        GROUP BY doc_id
    ),
    votes AS (
        SELECT doc_id, lang, len(words) AS nw,
            len(list_filter(words, w -> list_contains(
                ['the','and','of','to','in','is','that','for','with','as'], w)))
                AS h_en,
            len(list_filter(words, w -> list_contains(
                ['el','la','de','que','y','en','los','del','se','por'], w)))
                AS h_es,
            len(list_filter(words, w -> list_contains(
                ['le','la','de','et','les','des','en','un','du','une'], w)))
                AS h_fr,
            len(list_filter(words, w -> list_contains(
                ['der','die','und','in','den','von','zu','das','mit','sich'], w)))
                AS h_de
        FROM ws
    )
    SELECT v.doc_id, v.lang,
           CASE WHEN h_de > greatest(h_en, h_es, h_fr) THEN 'de'
                WHEN h_fr > greatest(h_en, h_es)       THEN 'fr'
                WHEN h_es > h_en                       THEN 'es'
                WHEN h_en > 0                          THEN 'en'
                ELSE 'und' END                         AS lang_detected,
           coalesce(fp.fingerprint, 0)                 AS fingerprint,
           CAST(h_en * 10000 // nullif(nw, 0) AS BIGINT) AS stopword_en_e4
    FROM votes v LEFT JOIN fp ON v.doc_id = fp.doc_id
    ORDER BY v.doc_id
    """

GRADUATED_ORACLES: dict[str, str] = {
    # ---- round-8 graduation batch (staged + hash-proven in round 7;
    # VERDICT r6 item 5 named this tranche — semantics deterministic
    # enough for an exact DuckDB replay). q_graph_pagerank: the
    # fixed-iteration recursion unrolled (10 CTE triples).
    # q_sim_recall: seeded hyperplanes inlined as double literals +
    # SQL sign-LSH multiprobe. q_text_fingerprint: the rolling hash
    # replayed as a modpow powers table over md5-arithmetic word
    # hashes (the hash switched from xxhash64 — no DuckDB twin exists
    # for it, CLAUDE.md — to the house md5 idiom in round 7 precisely
    # to make this twin possible), plus a CASE-ladder replay of the
    # first-wins stopword vote mirroring dict order en→es→fr→de ----
    "q_graph_pagerank": _pagerank_sql(),
    "q_sim_recall": _sim_recall_sql(),
    "q_text_fingerprint": _TEXT_FINGERPRINT_SQL,
    # ---- round-7 graduation batch (staged + hash-proven in round 6:
    # the four deterministic streaming queries — the micro-batch
    # engine's answers equal a batch fold DuckDB can replay: dedup
    # restores the pre-doubling corpus, running totals are a grouped
    # aggregate, top-k is a rank window, and the EWMA recursion is a
    # list_reduce fold in the identical (ts, event_id) order with the
    # identical `0.3*x + (1.0-0.3)*acc` IEEE arithmetic — and the
    # snapshot time-travel summary, whose versions 1 and 2 are pure
    # functions of the documents table) ----
    "q_stream_dedup": """
    SELECT event_id, user_id, event_type
    FROM events
    ORDER BY event_id
    """,
    "q_stream_running_totals": """
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 4)     AS total_value
    FROM events
    GROUP BY user_id
    ORDER BY user_id
    """,
    "q_stream_topk": """
    WITH r AS (
        SELECT event_type, event_id, value,
               row_number() OVER (
                   PARTITION BY event_type
                   ORDER BY value DESC, event_id) AS rank
        FROM events
    )
    SELECT event_type, CAST(rank AS BIGINT) AS rank, event_id,
           round(value, 4) AS value
    FROM r WHERE rank <= 5
    ORDER BY event_type, rank
    """,
    "q_stream_ewma": """
    WITH ord AS (
        SELECT user_id, event_id, value,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS i
        FROM events
    ),
    l AS (
        SELECT user_id,
               list(value ORDER BY i)    AS vs,
               list(event_id ORDER BY i) AS ids
        FROM ord GROUP BY user_id
    )
    SELECT user_id, ids[i] AS event_id,
           CAST(floor(list_reduce(vs[1:i],
                    (acc, x) -> 0.3 * x + (1.0 - 0.3) * acc) * 10000)
                AS BIGINT) AS ewma_e4
    FROM l, unnest(generate_series(1, len(vs))) AS t(i)
    ORDER BY user_id, event_id
    """,
    "q_snapshot_timetravel": """
    SELECT CAST(1 AS INT) AS version,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS sum_chars
    FROM documents
    UNION ALL
    SELECT CAST(2 AS INT), CAST(count(*) AS BIGINT),
           CAST(sum(n_chars) AS BIGINT)
    FROM documents WHERE n_chars >= 200
    ORDER BY version
    """,
    # ---- round-6 graduation batch (staged + hash-proven in round 5) ----
    "q_autocorr": """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS n
        FROM events GROUP BY event_type, d
    ),
    shifted AS (
        SELECT event_type, lag, d + to_days(CAST(lag AS INT)) AS d,
               n AS n_lag
        FROM daily, unnest([1, 2, 3, 4, 5, 6, 7]) AS t(lag)
    )
    SELECT a.event_type, CAST(s.lag AS INT) AS lag,
           CAST(count(*) AS BIGINT)     AS n_days,
           round(corr(a.n, s.n_lag) + 0.0, 4) AS acf
    FROM daily a JOIN shifted s
      ON a.event_type = s.event_type AND a.d = s.d
    GROUP BY a.event_type, lag
    ORDER BY a.event_type, lag
    """,
    "q_cusum_changepoint": """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS d, count(*) AS n
        FROM events GROUP BY event_type, d
    ),
    stats AS (
        SELECT event_type, avg(n) AS mean_n, count(*) AS n_days
        FROM daily GROUP BY event_type
    ),
    cs AS (
        SELECT daily.event_type, d, mean_n, n_days,
               sum(n - mean_n) OVER (
                   PARTITION BY daily.event_type ORDER BY d
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
               ) AS cusum
        FROM daily JOIN stats USING (event_type)
    ),
    ranked AS (
        SELECT *, row_number() OVER (
                   PARTITION BY event_type ORDER BY abs(cusum) DESC, d
               ) AS rk
        FROM cs
    )
    SELECT event_type,
           strftime(d, '%Y-%m-%d')     AS change_day,
           round(abs(cusum), 4)        AS max_abs_cusum,
           round(mean_n, 4)            AS mean_n,
           CAST(n_days AS BIGINT)      AS n_days
    FROM ranked WHERE rk = 1
    ORDER BY event_type
    """,
    "q_feature_hash": """
    WITH toks AS (
        SELECT source, w
        FROM (SELECT source,
                     unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS w
              FROM documents)
        WHERE w <> ''
    )
    SELECT source,
           CAST(CAST(('0x' || substr(md5(w), 1, 10)) AS BIGINT) % 64 AS INT)
               AS bucket,
           CAST(count(*) AS BIGINT)          AS n_tokens,
           CAST(count(DISTINCT w) AS BIGINT) AS n_distinct_words
    FROM toks
    GROUP BY source, bucket
    ORDER BY source, bucket
    """,
    # regenerates mapreduce_llm_spark/pysource.py's generator from the
    # same integer arithmetic — an independent engine proving the
    # custom Python data source honors its contract
    "q_custom_source": """
    WITH g AS (SELECT unnest(generate_series(0, 19999)) AS i),
    r AS (SELECT i, ((i * 2654435761) & 2147483647) AS h FROM g),
    e AS (
        SELECT h % 997 AS user_id,
               ['view', 'click', 'purchase', 'signup', 'error'][(h % 5) + 1]
                   AS event_type,
               (h % 100000) / 100.0 AS value
        FROM r
    )
    SELECT CAST(user_id % 10 AS INT) AS user_bucket,
           CAST(count(*) AS BIGINT)  AS n_events,
           round(sum(value), 2)      AS sum_value
    FROM e
    WHERE event_type = 'purchase'
    GROUP BY user_bucket
    ORDER BY user_bucket
    """,
    "q_zipf_slope": """
    WITH freqs AS (
        SELECT source, w, count(*) AS n
        FROM (SELECT source,
                     unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS w
              FROM documents)
        WHERE w <> ''
        GROUP BY source, w
    ),
    ranked AS (
        SELECT source, n,
               row_number() OVER (
                   PARTITION BY source ORDER BY n DESC, w) AS rk
        FROM freqs QUALIFY rk <= 100
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_words,
           round(regr_slope(ln(n), ln(rk)) + 0.0, 4) AS zipf_slope,
           round(regr_r2(ln(n), ln(rk)) + 0.0, 4)    AS fit_r2
    FROM ranked
    GROUP BY source
    ORDER BY source
    """,
    "q_ttr_heaps": """
    WITH toks AS (
        SELECT source, w
        FROM (SELECT source,
                     unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS w
              FROM documents)
        WHERE w <> ''
    )
    SELECT source,
           CAST(count(*) AS BIGINT)          AS n_tokens,
           CAST(count(DISTINCT w) AS BIGINT) AS n_types,
           round(count(DISTINCT w) / CAST(count(*) AS DOUBLE), 4) AS ttr,
           round(ln(CAST(count(DISTINCT w) AS DOUBLE))
                 / ln(CAST(count(*) AS DOUBLE)), 4) AS heaps_beta
    FROM toks
    GROUP BY source
    ORDER BY source
    """,
    "q_ngram_novelty": """
    WITH grams AS (
        SELECT DISTINCT source, gram
        FROM (
            SELECT source,
                   unnest([ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                           FOR i IN generate_series(1, greatest(len(ws) - 2, 0))])
                       AS gram
            FROM (SELECT source,
                         list_filter(regexp_split_to_array(lower(text), '[^a-z]+'),
                                     w -> w <> '') AS ws
                  FROM documents)
        )
    ),
    spread AS (
        SELECT gram, count(*) AS n_sources FROM grams GROUP BY gram
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum((n_sources = 1)::INT) AS BIGINT) AS n_exclusive,
           round(sum((n_sources = 1)::INT) / CAST(count(*) AS DOUBLE), 4)
               AS novelty_rate
    FROM grams JOIN spread USING (gram)
    GROUP BY source
    ORDER BY source
    """,
    "q_heavy_hitters": """
    WITH toks AS (
        SELECT w
        FROM (SELECT unnest(regexp_split_to_array(lower(text), '[^a-z]+')) AS w
              FROM documents)
        WHERE w <> ''
    )
    SELECT w,
           CAST(count(*) AS BIGINT) AS exact_n,
           TRUE AS containment_ok,
           TRUE AS bounds_ok
    FROM toks
    GROUP BY w
    ORDER BY exact_n DESC, w
    LIMIT 10
    """,
    "q_seq_pattern": """
    WITH capped AS (
        SELECT user_id, event_type, ts, event_id,
               row_number() OVER (
                   PARTITION BY user_id ORDER BY ts, event_id) AS rk
        FROM events QUALIFY rk <= 1000
    ),
    seqs AS (
        SELECT user_id,
               string_agg(substr(event_type, 1, 1), ''
                          ORDER BY ts, event_id) AS seq
        FROM capped GROUP BY user_id
    )
    SELECT user_id,
           CAST(length(seq) AS INT) AS seq_len,
           regexp_matches(seq, 'v.*c.*p') AS has_funnel,
           CAST((length(seq) - length(replace(seq, 'vc', ''))) / 2 AS INT)
               AS n_direct_vc
    FROM seqs
    ORDER BY user_id
    """,
    "q_balanced_sample": """
    SELECT vec_id, label, CAST(rk AS INT) AS rk
    FROM (
        SELECT vec_id, label,
               row_number() OVER (
                   PARTITION BY label
                   ORDER BY md5('bs:' || CAST(vec_id AS VARCHAR)), vec_id
               ) AS rk
        FROM embeddings
    ) WHERE rk <= 20
    ORDER BY label, rk
    """,
    "q_group_checksum": f"""
    WITH f AS (
        SELECT lang, {_FP_CS} AS fp
        FROM documents
    )
    SELECT lang,
           CAST(sum(fp) AS BIGINT)  AS checksum,
           CAST(count(*) AS BIGINT) AS n_rows,
           TRUE AS stable_under_repartition
    FROM f GROUP BY lang ORDER BY lang
    """,
    "q_table_diff": f"""
    WITH v1 AS (SELECT doc_id, lang, n_chars FROM documents),
    v2 AS (
        SELECT doc_id, lang,
               CASE WHEN doc_id % 13 = 0 THEN n_chars + 1
                    ELSE n_chars END AS n_chars
        FROM documents WHERE doc_id % 17 <> 0
        UNION ALL
        SELECT doc_id + 10000000, lang, n_chars
        FROM documents WHERE doc_id % 29 = 0
    ),
    f1 AS (SELECT doc_id, {_FP_DOC} AS fp FROM v1),
    f2 AS (SELECT doc_id, {_FP_DOC} AS fp FROM v2),
    d AS (
        SELECT doc_id,
               CASE WHEN f1.fp IS NULL THEN 'added'
                    WHEN f2.fp IS NULL THEN 'removed'
                    WHEN f1.fp = f2.fp THEN 'unchanged'
                    ELSE 'changed' END AS status
        FROM f1 FULL OUTER JOIN f2 USING (doc_id)
    )
    SELECT status,
           CAST(count(*) AS BIGINT)                    AS n_keys,
           CAST(sum(doc_id % 1099511627776) AS BIGINT) AS key_checksum
    FROM d GROUP BY status ORDER BY status
    """,
    # scale_to_bits / z_value in SQL: identical IEEE double ops for the
    # grid mapping (cast-first subtraction, same divisor epsilon, same
    # multiply order), bit interleave via list comprehension.
    "q_zorder_skipping": """
    WITH b AS (
        SELECT min(o_custkey) AS ck_lo, max(o_custkey) AS ck_hi,
               min(CAST(o_orderdate AS DATE)) AS d_lo,
               max(CAST(o_orderdate AS DATE)) AS d_hi
        FROM orders
    ),
    g AS (
        SELECT
            greatest(0, least(16383, CAST(floor(
                (CAST(o_custkey AS DOUBLE) - ck_lo)
                / (ck_hi - ck_lo + 1e-300) * 16384) AS BIGINT))) AS xb,
            greatest(0, least(16383, CAST(floor(
                (CAST(date_diff('day', d_lo, CAST(o_orderdate AS DATE)) AS DOUBLE) - 0)
                / (date_diff('day', d_lo, d_hi) - 0 + 1e-300) * 16384) AS BIGINT))) AS yb
        FROM orders, b
    ),
    gz AS (
        SELECT xb, yb,
               CAST(list_sum([
                   ((xb >> i) & 1) * (CAST(1 AS BIGINT) << (2 * i))
                   + ((yb >> i) & 1) * (CAST(1 AS BIGINT) << (2 * i + 1))
                   FOR i IN generate_series(0, 13)]) AS BIGINT) AS z
        FROM g
    ),
    fp AS (
        SELECT 'zorder' AS layout, z >> 22 AS file_id,
               min(xb) AS x_min, max(xb) AS x_max,
               min(yb) AS y_min, max(yb) AS y_max,
               count(*) AS n_rows
        FROM gz GROUP BY 1, 2
        UNION ALL
        SELECT 'linear', xb >> 8,
               min(xb), max(xb), min(yb), max(yb), count(*)
        FROM gz GROUP BY 1, 2
    ),
    probes AS (
        SELECT * FROM (VALUES
            ('date_slice', 0, 16383, 6553, 7372),
            ('custkey_slice', 6553, 7372, 0, 16383),
            ('square', 4096, 5734, 4096, 5734)
        ) AS t(probe, x_lo, x_hi, y_lo, y_hi)
    ),
    touched AS (
        SELECT probe, layout,
               CAST(sum(CASE WHEN x_max >= x_lo AND x_min <= x_hi
                              AND y_max >= y_lo AND y_min <= y_hi
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_files_touched,
               CAST(count(*) AS BIGINT)               AS n_files,
               CAST(sum(CASE WHEN x_max >= x_lo AND x_min <= x_hi
                              AND y_max >= y_lo AND y_min <= y_hi
                        THEN n_rows ELSE 0 END) AS BIGINT)
                   AS n_rows_in_touched
        FROM fp, probes
        GROUP BY probe, layout
    ),
    matches AS (
        SELECT probe, CAST(count(*) AS BIGINT) AS n_rows_match
        FROM gz, probes
        WHERE xb BETWEEN x_lo AND x_hi AND yb BETWEEN y_lo AND y_hi
        GROUP BY probe
    )
    SELECT t.probe, t.layout, t.n_files_touched, t.n_files,
           t.n_rows_in_touched,
           coalesce(m.n_rows_match, 0) AS n_rows_match
    FROM touched t LEFT JOIN matches m ON t.probe = m.probe
    ORDER BY t.probe, t.layout
    """,
}
