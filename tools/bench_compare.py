"""Compare two bench records on their COMMON query subset.

The headline suite grows every round, so comparing suite totals (or
even means) across rounds conflates engine speed with suite
composition. This tool does what the round judge does by hand: restrict
to the intersection of queries, compare sums, and list the per-query
deltas beyond a noise threshold.

Usage: python tools/bench_compare.py BENCH_r03.json BENCH_r04.json
Accepts either a raw ``bench.py`` JSON line or the driver's wrapper
format (``{"n": ..., "rc": ..., "tail": "...{json}..."}``).

Also importable: ``bench.py --compare`` uses :func:`gate` as the CI
regression check (fail above an explicit common-subset ratio, with the
documented-acceptance escape hatch below).
"""

from __future__ import annotations

import json
import re
import sys

# Documented, accepted regressions: queries EXCLUDED from the gate's
# common-subset ratio because a deliberate trade bought the slowdown.
# Every entry needs the reason (and the round that accepted it) — this
# is the escape hatch the gate requires instead of a silent threshold
# bump.
ACCEPTED_REGRESSIONS: dict[str, str] = {
    # round 4: persist-leak fix added an eager localCheckpoint inside
    # ngram_jaccard_pairs (+0.44 s at sf0.1, plan shape unchanged) —
    # accepted in ROUND4_NOTES; keeps prior-round comparisons honest.
    "q_dedup_ngram": "r4 leak-fix localCheckpoint (+0.44s accepted)",
    # round 12: the materialized co-purchase edge list moved to
    # SERIALIZED localCheckpoint storage — +~1.5-2 s of (de)serialize
    # CPU at sf0.1 bought a 2.3x absolute win at sf10 and dropped the
    # second-decade exponent 1.246 -> 0.846 (ROUND12_NOTES); the
    # 100 TB design point wins the trade.
    "q_graph_bfs": "r12 serialized edge-list checkpoint (sf10 2.3x win)",
    # round 13: the ranking operators materialize their pid-stamped
    # frame once (eager serialized localCheckpoint) so the counts and
    # data branches cannot diverge under AQE — the fix for the silent
    # row-loss bug (ROUND13_NOTES). Queries with global-ranking legs
    # pay the checkpoint job (~+0.3-0.4 s at sf0.1 per leg;
    # q_rank_fusion has two); several other consumers got FASTER
    # because the shuffle is no longer recomputed per branch
    # (q_abc_classification 0.87x, q_cdc_apply 0.69x).
    "q_rank_fusion": "r13 ranking materialization barrier (correctness)",
    "q_decile_lift": "r13 ranking materialization barrier (correctness)",
    # round 14: global_prefix_sum shared the round-13 row-loss shape
    # (differently-pruned ReadSchemas on its totals vs data branch)
    # but shipped one round without the barrier; closed with the same
    # eager serialized localCheckpoint (ROUND14_NOTES). Its five
    # consumers pay the materialization job; q_abc_classification and
    # q_pareto_front carry prefix-sum + ranking legs, so the r13
    # entry's reasoning now applies to them too. Real deltas are
    # ~1.1-1.3x after dividing out the r14 committed map's uniform
    # ~1.3x Spark-side host factor (barrier-free q_join_inner /
    # q_agg_basic read 1.34-1.38x vs r13 with a quiet md5 anchor —
    # see ROUND14_NOTES).
    "q_abc_classification": "r14 prefix-sum materialization barrier (correctness)",
    "q_pareto_front": "r14 prefix-sum materialization barrier (correctness)",
    "q_interval_concurrency": "r14 prefix-sum materialization barrier (correctness)",
    "q_lorenz_curve": "r14 prefix-sum materialization barrier (correctness)",
    "q_compaction_plan": "r14 prefix-sum materialization barrier (correctness)",
}


def _from_text(text: str, path: str) -> dict:
    """Recover a bench record from raw stdout text (possibly a
    truncated last-N-chars driver capture). Since round 7 bench.py
    emits TWO lines — the full per-query map first, then a compact
    pinned-gate record last (guaranteed inside any tail capture) — so
    scan lines last-to-first for a standalone-parseable record."""
    for line in reversed(text.strip().splitlines()):
        line = line.strip()
        if '"metric"' not in line:
            continue
        try:
            rec = json.loads(line[line.index('{"metric"') :])
        except (ValueError, json.JSONDecodeError):
            continue
        if "queries" in rec:
            return rec
    # pre-round-7 records: the driver kept only the LAST N chars of a
    # single big line, cutting off its '{"metric"...' head
    # (BENCH_r05/r06 both arrived this way). Reconstruct what
    # survives: every intact "q_name": seconds pair. If a
    # pinned_queries block is present later in the tail its pairs
    # overwrite the headline ones — same query, phase-1 timing, which
    # is exactly the growth-invariant number the gate wants.
    pairs = re.findall(r'"(q_\w+)":\s*([0-9.]+)', text)
    if not pairs:
        raise SystemExit(f"{path}: no bench JSON line found")
    return {"queries": {name: float(sec) for name, sec in pairs}}


def load_bench(path: str) -> dict:
    with open(path) as fh:
        content = fh.read()
    try:
        data = json.loads(content)
    except (ValueError, json.JSONDecodeError):
        # raw multi-line bench.py stdout saved straight to a file
        return _from_text(content, path)
    if "queries" in data:
        return data
    # driver wrapper: the bench output is embedded in the captured tail
    return _from_text(data.get("tail", ""), path)


def common_ratio(
    old: dict, new: dict, *, exclude: set[str] = frozenset()
) -> tuple[list[str], float, float]:
    """(common queries, old sum, new sum) over the intersection of the
    two records' query sets minus ``exclude``."""
    qo, qn = old["queries"], new["queries"]
    common = sorted((set(qo) & set(qn)) - exclude)
    if not common:
        raise ValueError("no common queries between the two records")
    return common, sum(qo[q] for q in common), sum(qn[q] for q in common)


def gate(old: dict, new: dict, max_ratio: float = 1.15) -> tuple[bool, str]:
    """Regression gate: (ok, message). Fails when the common-subset
    total (excluding ACCEPTED_REGRESSIONS) exceeds ``max_ratio`` times
    the old record's. The threshold is explicit so a real regression
    cannot hide in suite growth or per-query noise."""
    common, so, sn = common_ratio(
        old, new, exclude=set(ACCEPTED_REGRESSIONS)
    )
    ratio = sn / so
    msg = (
        f"bench gate: {len(common)} common queries "
        f"(excluded: {sorted(set(ACCEPTED_REGRESSIONS) & set(old['queries']))}) "
        f"old={so:.2f}s new={sn:.2f}s ratio={ratio:.3f}x limit={max_ratio}x"
    )
    return ratio <= max_ratio, msg


def main() -> None:
    if len(sys.argv) != 3:
        raise SystemExit(__doc__)
    old, new = load_bench(sys.argv[1]), load_bench(sys.argv[2])
    qo, qn = old["queries"], new["queries"]
    common, so, sn = common_ratio(old, new)
    print(
        f"common subset: {len(common)} queries  "
        f"old={so:.2f}s  new={sn:.2f}s  ratio={sn / so:.3f}x"
    )
    print(
        f"old-only: {len(set(qo) - set(qn))}  new-only: {len(set(qn) - set(qo))}"
    )
    deltas = sorted(common, key=lambda q: qn[q] - qo[q])
    moved = [
        q
        for q in deltas
        if abs(qn[q] - qo[q]) > 0.1 and abs(qn[q] - qo[q]) / max(qo[q], 1e-9) > 0.10
    ]
    for q in moved:
        print(f"  {q:32s} {qo[q]:7.3f} -> {qn[q]:7.3f}  ({qn[q] - qo[q]:+.3f})")
    ok, msg = gate(old, new)
    print(("PASS " if ok else "FAIL ") + msg)


if __name__ == "__main__":
    try:
        main()
        sys.stdout.flush()  # flush INSIDE the try: the at-exit flush
        # would raise BrokenPipeError outside any handler
    except BrokenPipeError:  # piped to head: not an error
        import os

        os.dup2(os.open(os.devnull, os.O_WRONLY), sys.stdout.fileno())
        os._exit(0)
