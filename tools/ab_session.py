"""IN-SESSION A/B harness — the only trustworthy local instrument on
this host (VERDICT r14 "What's wrong" #6): isolated cross-run timings
drift 1.1-1.6x on identical code, so both variants are constructed and
timed in ONE SparkSession, alternating A/B per pass, with the md5-2M
CPU anchor co-measured before and after so every reported ratio can be
read against host state.

Variant construction:
  --nockpt NAME   variant A = the registered query as written;
                  variant B = the same function with
                  DataFrame.localCheckpoint patched to identity (the
                  exact "without the materialization barrier" form).
                  The patch also strips the lineage-truncation
                  checkpoints inside operators/graph.py, so it is not
                  a valid A/B for a query that calls
                  connected_components, pagerank or kcore_peel_trace:
                  variant B there re-plans every earlier iteration
                  (3^k plans for pagerank, driver OOM for long loops).
  --vs NAME_B     variant B = a second registered query name (for
                  experiments staged as *_ab_variant functions).

Usage:
  python tools/ab_session.py q_kmeans_step --nockpt
  python tools/ab_session.py q_x --vs q_x_variant --passes 5
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mapreduce_llm_spark import registry
from mapreduce_llm_spark.session import get_spark


def _noop_local_checkpoint(self, eager=True, storageLevel=None):
    return self


class patched_no_checkpoint:
    """Context manager: DataFrame.localCheckpoint becomes identity."""

    def __enter__(self):
        from pyspark.sql import DataFrame

        self._orig = DataFrame.localCheckpoint
        DataFrame.localCheckpoint = _noop_local_checkpoint
        return self

    def __exit__(self, *exc):
        from pyspark.sql import DataFrame

        DataFrame.localCheckpoint = self._orig
        return False


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("query", help="registered query name (variant A)")
    ap.add_argument(
        "--nockpt",
        action="store_true",
        help="variant B = same query, localCheckpoint patched to identity",
    )
    ap.add_argument("--vs", default=None, help="variant B = this query name")
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--passes", type=int, default=5)
    args = ap.parse_args()
    if not (args.nockpt or args.vs):
        ap.error("need --nockpt or --vs")

    from tools.host_anchor import cpu_anchor

    anchor_start = cpu_anchor()

    registry.load_all()
    spark = get_spark(app_name="ab-session")
    from bench import run_query

    qa = registry.QUERIES[args.query]
    qb = registry.QUERIES[args.vs] if args.vs else qa

    def time_a() -> float:
        return run_query(qa, spark, args.sf)

    def time_b() -> float:
        if args.nockpt:
            with patched_no_checkpoint():
                return run_query(qb, spark, args.sf)
        return run_query(qb, spark, args.sf)

    # warm-up both variants (JIT, parquet footers, Python workers)
    time_a()
    time_b()
    a_ts: list[float] = []
    b_ts: list[float] = []
    for i in range(args.passes):
        # alternate starting side per pass so order bias cancels
        if i % 2 == 0:
            a_ts.append(time_a())
            b_ts.append(time_b())
        else:
            b_ts.append(time_b())
            a_ts.append(time_a())

    anchor_end = cpu_anchor()
    med_a = statistics.median(a_ts)
    med_b = statistics.median(b_ts)
    out = {
        "query": args.query,
        "variant_b": args.vs or f"{args.query} (no localCheckpoint)",
        "passes": args.passes,
        "a_median": round(med_a, 3),
        "b_median": round(med_b, 3),
        "b_over_a": round(med_b / med_a, 3),
        "a_all": [round(t, 3) for t in a_ts],
        "b_all": [round(t, 3) for t in b_ts],
        "anchor": {"start": anchor_start, "end": anchor_end},
    }
    print(json.dumps(out, indent=1))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
