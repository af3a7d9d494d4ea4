"""Query registry — the single source of truth for the driver contract.

Every operator the engine claims (SURVEY.md §2) registers here: a named
callable ``(spark, sf_dir) -> DataFrame`` and, when the semantics are
ANSI-SQL-expressible, a DuckDB oracle SQL twin. The driver hash-compares
the two at sf0.01; rows-only entries omit the oracle.

Column-name discipline: the driver sorts columns by name before hashing,
so every computed column is aliased identically in the Spark code and the
oracle SQL. Float aggregates are rounded to 4 decimals on BOTH sides to
dodge summation-order divergence.
"""

from __future__ import annotations

import json
import os
import re
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}

#: The driver hash-checks only the first WINDOW entries of queries().
WINDOW = 50

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a named query, optionally with its DuckDB oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in QUERIES:
            raise ValueError(f"duplicate query name {name!r}")
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


def priority_groups(
    records: dict[str, list[dict]] | None = None,
) -> tuple[list[str], list[str], list[str]]:
    """Split the registered names into the driver's three priority
    groups, each in registration order: oracle-backed queries with no
    hash-green record, rows-only queries with no record at all, and
    everything else. ``records`` maps a query name to its driver
    records; by default it is read from every CORRECTNESS_r*.json
    beside the package."""
    if records is None:
        records = {}
        for fname in sorted(os.listdir(_ROOT)):
            if re.fullmatch(r"CORRECTNESS_r\d+\.json", fname):
                with open(os.path.join(_ROOT, fname)) as fh:
                    for name, rec in json.load(fh).items():
                        records.setdefault(name, []).append(rec)
    groups: tuple[list[str], list[str], list[str]] = ([], [], [])
    for name in QUERIES:
        recs = records.get(name, [])
        if name in ORACLE:
            verified = any(r.get("hash_match") is True for r in recs)
            groups[2 if verified else 0].append(name)
        else:
            groups[2 if recs else 1].append(name)
    return groups


def load_all() -> None:
    """Import every query module so registration side effects run, then
    reorder QUERIES by priority_groups so the driver's first WINDOW
    entries are the queries it has not yet verified."""
    from mapreduce_llm_spark.queries import (  # noqa: F401
        aggregations,
        analytics_extra,
        analytics_r4,
        analytics_r4b,
        analytics_r4c,
        analytics_r5,
        analytics_r5b,
        analytics_r5c,
        analytics_r5d,
        analytics_r6,
        analytics_r7,
        analytics_r7b,
        analytics_r7c,
        analytics_r8,
        analytics_r9,
        analytics_r10,
        analytics_r11,
        analytics_r12,
        analytics_r13,
        analytics_r14,
        analytics_r15,
        corpus_ops,
        embedding_stats,
        events,
        functions_queries,
        joins,
        llm_pipeline,
        multimodal_ingest,
        relational_extra,
        scans,
        setops,
        skew,
        sorts,
        sql_api,
        streaming_queries,
        textprep,
        tpch_extra,
        tpch_macro,
        udfs,
        validation,
        windows,
    )

    reordered = {n: QUERIES[n] for group in priority_groups() for n in group}
    QUERIES.clear()
    QUERIES.update(reordered)
