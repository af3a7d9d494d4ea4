"""Record the output fingerprints the query workloads check against.

    python3 perfbench/pin.py

Run from the repository root. Writes the benchmark's tables, runs every
query of the analytic mix once and records its fingerprint in
``perfbench/fingerprints.json``. A query is pinned only after its Spark
result matches its DuckDB oracle under ``tests/oracle_harness.compare``
and has at least one row: an empty result would pin a check that no
lost row can fail. A query without an oracle, a mismatch or an empty
result aborts without writing.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.run import ANALYTIC, SCALE, fingerprint  # noqa: E402
from perfbench.gen import write_tables  # noqa: E402


def main() -> int:
    from mapreduce_llm_spark import registry
    from mapreduce_llm_spark.session import get_spark
    from tests.oracle_harness import compare, duckdb_conn

    os.environ["PYTHONPATH"] = os.getcwd()
    registry.load_all()
    spark = get_spark(app_name="perfbench-pin")
    with tempfile.TemporaryDirectory() as tmp:
        data = write_tables(tmp, SCALE)
        con = duckdb_conn(data)
        pinned, bad = {}, []
        for name in ANALYTIC:
            oracle = registry.ORACLE.get(name)
            if oracle is None:
                bad.append(f"{name}: no oracle")
                continue
            ok, msg = compare(registry.QUERIES[name](spark, data), con, oracle, name)
            print(msg, flush=True)
            if not ok:
                bad.append(f"{name}: oracle mismatch")
                continue
            fp = fingerprint(registry.QUERIES[name](spark, data))
            print(name, fp, flush=True)
            if fp.startswith("0:"):
                bad.append(f"{name}: no rows")
                continue
            pinned[name] = fp
    if bad:
        print("nothing written:", bad, file=sys.stderr)
        return 1
    with open(os.path.join("perfbench", "fingerprints.json"), "w") as fh:
        json.dump({"scale": SCALE, "queries": pinned}, fh, indent=1, sort_keys=True)
        fh.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
