"""sf0.1 → sf1 scale-stress harness (VERDICT r6 item 4).

The 100 TB claims rest on plan shape plus sf0.1 timing; this measures
how the most expensive headline queries actually scale across a real
10× data step. The driver ships no sf1 testdata, so the harness
BUILDS one deterministically from the committed sf0.1 parquet: ten
key-shifted copies of every keyed table with referential integrity
preserved (customer/supplier/part/orders/lineitem key spaces shift
together; nation/region stay single-copy; documents get a per-copy
suffix word so text queries see new content, embeddings a per-copy
1e-6 component offset so ANN buckets spread). That is a benchmark
FIXTURE derived from driver data — no synthetic inputs enter any
declared query path.

Usage:
    python tools/scale_stress.py [--queries q_a,q_b] [--passes 3]

Writes the per-query seconds at both scales and the measured scaling
exponent  log10(t_sf1 / t_sf01)  (1.0 = linear in data volume, <1 =
sublinear/fixed-cost-dominated, >1.2 = a hidden skew or state bug) to
SCALE_STRESS.json and prints a markdown table for SCALING.md.
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
DST = os.environ.get("SPARK_GRAFT_SF1_DIR", "/tmp/mrs_scale_sf1")
DST10 = os.environ.get("SPARK_GRAFT_SF10_DIR", "/tmp/mrs_scale_sf10")
COPIES = 10

DEFAULT_QUERIES = [
    "q_dedup_fuzzy",
    "q_graph_bfs",
    "q_fuzzy_join",
    "q_pair_lift",
    "q_basket_pairs",
    "q_interval_concurrency",
    "q_win_median",
    "q_zorder_skipping",
    "q_match_recognize",
    "q_abc_classification",
]


def build_sf1(src: str = SRC, dst: str = DST, copies: int = COPIES) -> str:
    """Materialize the key-shifted 10× fixture (idempotent)."""
    marker = os.path.join(dst, "_SCALE_OK")
    if os.path.exists(marker):
        return dst
    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 8}")

    def t(name: str) -> str:
        return f"read_parquet('{src}/{name}.parquet')"

    # key-space strides: one past the max key so shifted copies never
    # collide (computed from the data, not assumed)
    strides = {
        k: con.execute(f"SELECT max({col}) + 1 FROM {t(tab)}").fetchone()[0]
        for k, (tab, col) in {
            "C": ("customer", "c_custkey"),
            "S": ("supplier", "s_suppkey"),
            "P": ("part", "p_partkey"),
            "O": ("orders", "o_orderkey"),
            "U": ("events", "user_id"),
            "E": ("events", "event_id"),
            "D": ("documents", "doc_id"),
            "V": ("embeddings", "vec_id"),
        }.items()
    }
    series = f"(SELECT unnest(generate_series(0, {copies - 1})) AS cp)"
    plans = {
        "nation": f"SELECT * FROM {t('nation')}",
        "region": f"SELECT * FROM {t('region')}",
        "customer": f"""
            SELECT c_custkey + cp * {strides["C"]} AS c_custkey,
                   c_name, c_nationkey, c_acctbal, c_mktsegment
            FROM {t("customer")}, {series}""",
        "supplier": f"""
            SELECT s_suppkey + cp * {strides["S"]} AS s_suppkey,
                   s_name, s_nationkey, s_acctbal
            FROM {t("supplier")}, {series}""",
        "part": f"""
            SELECT p_partkey + cp * {strides["P"]} AS p_partkey,
                   p_name, p_brand, p_type, p_size, p_retailprice
            FROM {t("part")}, {series}""",
        "orders": f"""
            SELECT o_orderkey + cp * {strides["O"]} AS o_orderkey,
                   o_custkey + cp * {strides["C"]} AS o_custkey,
                   o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
            FROM {t("orders")}, {series}""",
        "lineitem": f"""
            SELECT l_orderkey + cp * {strides["O"]} AS l_orderkey,
                   l_partkey + cp * {strides["P"]} AS l_partkey,
                   l_suppkey + cp * {strides["S"]} AS l_suppkey,
                   l_linenumber, l_quantity, l_extendedprice, l_discount,
                   l_tax, l_returnflag, l_linestatus, l_shipdate
            FROM {t("lineitem")}, {series}""",
        "events": f"""
            SELECT event_id + cp * {strides["E"]} AS event_id, ts,
                   user_id + cp * {strides["U"]} AS user_id,
                   event_type, value, props
            FROM {t("events")}, {series}""",
        "documents": f"""
            SELECT doc_id + cp * {strides["D"]} AS doc_id,
                   text || ' shard' || CAST(cp AS VARCHAR) AS text,
                   lang, source, n_chars + 7 AS n_chars
            FROM {t("documents")}, {series}""",
        "embeddings": f"""
            SELECT vec_id + cp * {strides["V"]} AS vec_id,
                   list_transform(embedding,
                       x -> CAST(x + cp * 1e-6 AS FLOAT)) AS embedding,
                   label
            FROM {t("embeddings")}, {series}""",
    }
    for name, sql in plans.items():
        out = os.path.join(dst, f"{name}.parquet")
        con.execute(f"COPY ({sql}) TO '{out}' (FORMAT PARQUET)")
        print(f"built {name}", file=sys.stderr)
    with open(marker, "w") as fh:
        fh.write(f"copies={copies} src={src}\n")
    return dst


DEDUP_D1 = os.environ.get("SPARK_GRAFT_DEDUP_SF1_DIR", "/tmp/mrs_dedup_sf1")
DEDUP_D10 = os.environ.get("SPARK_GRAFT_DEDUP_SF10_DIR", "/tmp/mrs_dedup_sf10")


def build_dedup_density(
    src: str, dst: str, salt: str, copies: int = COPIES
) -> str:
    """documents-only ×10 fixture that PRESERVES near-dup density
    (VERDICT r10 item 5b / ROUND9_NOTES finding 2): the standard
    copies fixture appends one shard word per copy, leaving every
    document 9 near-identical twins (3-gram Jaccard ≈ 0.96) — the
    near-dup PAIR SET then grows ~100× and any sf10 run measures the
    fixture's duplicate density, not the engine. Here each copy
    cp > 0 perturbs HALF the words (hash-selected, suffix unique per
    copy and per level via `salt`), so only ~12.5% of word-3-gram
    shingles survive between copies — cross-copy Jaccard ≈ 0.07,
    far under q_dedup_clusters' 0.5 threshold — while WITHIN a copy
    the original near-dup structure is untouched (the same words get
    the same rewrite). Pairs therefore scale ~10× (linearly), the way
    a real 10× corpus crawl behaves."""
    marker = os.path.join(dst, "_SCALE_OK")
    if os.path.exists(marker):
        return dst
    os.makedirs(dst, exist_ok=True)
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 8}")
    src_docs = f"read_parquet('{src}/documents.parquet')"
    stride = con.execute(f"SELECT max(doc_id) + 1 FROM {src_docs}").fetchone()[0]
    series = f"(SELECT unnest(generate_series(0, {copies - 1})) AS cp)"
    sql = f"""
        SELECT doc_id + cp * {stride} AS doc_id,
               array_to_string(list_transform(string_split(text, ' '),
                   w -> CASE WHEN cp > 0 AND hash(w) % 2 = 0
                             THEN w || '{salt}' || CAST(cp AS VARCHAR)
                             ELSE w END), ' ') AS text,
               lang, source,
               CAST(length(array_to_string(list_transform(
                   string_split(text, ' '),
                   w -> CASE WHEN cp > 0 AND hash(w) % 2 = 0
                             THEN w || '{salt}' || CAST(cp AS VARCHAR)
                             ELSE w END), ' ')) AS BIGINT) AS n_chars
        FROM {src_docs}, {series}
    """
    out = os.path.join(dst, "documents.parquet")
    con.execute(f"COPY ({sql}) TO '{out}' (FORMAT PARQUET)")
    with open(marker, "w") as fh:
        fh.write(f"copies={copies} src={src} salt={salt} density-preserving\n")
    return dst


BOOK = "SCALE_STRESS.json"


def row_key(r: dict) -> tuple:
    """Merge key for the cumulative book. The fixture enters the key so
    a density-preserving re-measurement ACCOMPANIES the standard-copies
    row instead of erasing it — the book keeps both the confounded and
    the corrected exponent."""
    return (r["query"], r.get("decade", "0.1-1"), r.get("fixture", "copies"))


def merge_rows(
    rows: list[dict], path: str = BOOK, *, copies: int = COPIES, passes: int = 3
) -> None:
    """Merge measured rows into the existing book (replace by
    (name, decade, fixture), append new) and write it back. Called
    after EVERY query's measurement, not once per batch: the round-13
    assortativity crash aborted a multi-query sweep mid-batch and lost
    every completed row with it (recovered only by a manual re-measure
    commit, aec0d81). Incremental writes make a mid-batch crash lose at
    most the in-flight query. The write is atomic (tmp + rename) so a
    crash DURING the write can't truncate the book either."""
    prior: list[dict] = []
    if os.path.exists(path):
        with open(path) as fh:
            prior = json.load(fh).get("rows", [])
    by_key = {row_key(r): r for r in rows}
    merged = [by_key.pop(row_key(r), r) for r in prior] + list(by_key.values())
    out = {"copies": copies, "passes": passes, "rows": merged}
    tmp = path + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(out, fh, indent=1)
    os.replace(tmp, path)


def main() -> None:
    from mapreduce_llm_spark import registry
    from mapreduce_llm_spark.session import get_spark

    args = sys.argv[1:]
    known_flags = {"--queries", "--passes", "--decade", "--dedup-density"}
    flagged = {a for a in args if a.startswith("--")}
    if "--help" in args or "-h" in args or not flagged <= known_flags:
        print(
            "usage: scale_stress.py [--queries q_a,q_b] [--passes N]\n"
            "                       [--decade 0.1-1|1-10] [--dedup-density]\n"
            "Measures each query at both scales (3-pass medians by\n"
            "default) and merges rows into SCALE_STRESS.json. A bare\n"
            "run measures DEFAULT_QUERIES — this IS a long Spark job,\n"
            "so unknown flags abort instead of silently starting one.",
            file=sys.stderr,
        )
        sys.exit(0 if ("--help" in args or "-h" in args) else 2)
    names = DEFAULT_QUERIES
    # --decade 1-10 (VERDICT r8 item 6): measure sf1 -> sf10 instead of
    # sf0.1 -> sf1, on a second-generation fixture built FROM the sf1
    # fixture by the same key-shifted-copies construction. Rows land in
    # SCALE_STRESS.json tagged {"decade": "1-10"} under their own merge
    # key, so the one-decade book is untouched.
    decade = "0.1-1"
    if "--decade" in args:
        decade = args[args.index("--decade") + 1]
        assert decade in ("0.1-1", "1-10"), decade
    passes = 3
    if "--queries" in args:
        names = args[args.index("--queries") + 1].split(",")
    if "--passes" in args:
        passes = int(args[args.index("--passes") + 1])

    # --dedup-density: measure q_dedup_clusters' second decade on the
    # density-preserving documents fixture (build_dedup_density) —
    # sf1d -> sf10d. The standard copies fixture is confounded for this
    # query (ROUND9_NOTES finding 2); rows land tagged with the fixture.
    dedup_density = "--dedup-density" in args
    if dedup_density:
        decade = "1-10"
        names = ["q_dedup_clusters"] if names is DEFAULT_QUERIES else names
        build_dedup_density(SRC, DEDUP_D1, salt="da")
        build_dedup_density(DEDUP_D1, DEDUP_D10, salt="db")
        small_dir, big_dir = DEDUP_D1, DEDUP_D10
    else:
        build_sf1()
        if decade == "1-10":
            build_sf1(src=DST, dst=DST10)
        small_dir, big_dir = (DST, DST10) if decade == "1-10" else (SRC, DST)
    registry.load_all()
    spark = get_spark(app_name="mapreduce_llm_spark-scale-stress")

    def bench(name: str, sf_dir: str) -> float:
        qfn = registry.QUERIES[name]
        qfn(spark, sf_dir).write.mode("overwrite").format("noop").save()  # warm
        ts = []
        for _ in range(passes):
            t0 = time.perf_counter()
            qfn(spark, sf_dir).write.mode("overwrite").format("noop").save()
            ts.append(time.perf_counter() - t0)
        return round(sorted(ts)[len(ts) // 2], 3)

    rows = []
    for name in names:
        t_small = bench(name, small_dir)
        t_big = bench(name, big_dir)
        exp = round(math.log10(t_big / t_small), 3) if t_small > 0 else None
        row = {"query": name, "sf01_s": t_small, "sf1_s": t_big, "exponent": exp}
        if decade != "0.1-1":
            row = {
                "query": name, "decade": decade, "small_s": t_small,
                "big_s": t_big, "exponent": exp,
            }
            if dedup_density:
                row["fixture"] = "density-preserving"
        rows.append(row)
        # book written per query, not per batch — a crash on query
        # N+1 preserves rows 1..N (merge_rows docstring)
        merge_rows([row], passes=passes)
        print(
            f"{name} [{decade}]: {t_small}s -> {t_big}s  exp={exp}",
            file=sys.stderr,
        )

    print(f"| query | decade {decade} small s | big s | exponent |")
    print("|---|---|---|---|")
    for r in rows:
        small = r.get("sf01_s", r.get("small_s"))
        big = r.get("sf1_s", r.get("big_s"))
        print(f"| {r['query']} | {small} | {big} | {r['exponent']} |")


if __name__ == "__main__":
    main()
