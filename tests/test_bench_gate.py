"""Unit tests for the bench regression gate (tools/bench_compare).

The gate is pure arithmetic over two bench records, so it is tested
without Spark: common-subset restriction, the accepted-regression
escape hatch, and the explicit ratio threshold. ``bench.py --compare``
calls exactly :func:`gate`, so these pin the CI behavior.
"""

from __future__ import annotations

import json
import os

import pytest

from tools.bench_compare import (
    ACCEPTED_REGRESSIONS,
    common_ratio,
    gate,
    load_bench,
)


def _rec(**queries: float) -> dict:
    return {"queries": queries}


def test_gate_passes_within_threshold():
    ok, msg = gate(_rec(a=1.0, b=2.0), _rec(a=1.05, b=2.1), max_ratio=1.15)
    assert ok, msg
    assert "ratio=1.050x" in msg


def test_gate_fails_beyond_threshold():
    ok, msg = gate(_rec(a=1.0, b=1.0), _rec(a=1.5, b=1.0), max_ratio=1.15)
    assert not ok
    assert "ratio=1.250x" in msg


def test_gate_restricts_to_common_subset():
    # the new suite grew by a slow query 'c'; the gate must ignore it
    ok, _ = gate(_rec(a=1.0), _rec(a=1.0, c=99.0), max_ratio=1.15)
    assert ok
    # and a query dropped from the suite must not count either
    ok, _ = gate(_rec(a=1.0, dropped=50.0), _rec(a=1.0), max_ratio=1.15)
    assert ok


def test_accepted_regressions_are_excluded_and_documented():
    # every escape-hatch entry must carry a non-empty reason
    assert ACCEPTED_REGRESSIONS, "gate exists because r4 had one"
    for name, reason in ACCEPTED_REGRESSIONS.items():
        assert name.startswith("q_") and len(reason) > 10
    victim = next(iter(ACCEPTED_REGRESSIONS))
    # a 3x regression on an accepted query alone must NOT trip the gate
    ok, msg = gate(
        _rec(a=1.0, **{victim: 1.0}),
        _rec(a=1.0, **{victim: 3.0}),
        max_ratio=1.15,
    )
    assert ok, msg
    # but the same regression on an unlisted query must
    ok, _ = gate(
        _rec(a=1.0, q_other=1.0),
        _rec(a=1.0, q_other=3.0),
        max_ratio=1.15,
    )
    assert not ok


def test_no_common_queries_is_an_error():
    with pytest.raises(ValueError):
        common_ratio(_rec(a=1.0), _rec(b=1.0))


def test_load_bench_accepts_raw_and_driver_wrapper(tmp_path):
    raw = {"metric": "m", "queries": {"a": 1.0}}
    p1 = tmp_path / "raw.json"
    p1.write_text(json.dumps(raw))
    assert load_bench(str(p1))["queries"] == {"a": 1.0}

    wrapper = {"rc": 0, "tail": "noise\n" + json.dumps(raw) + "\n"}
    p2 = tmp_path / "wrapped.json"
    p2.write_text(json.dumps(wrapper))
    assert load_bench(str(p2))["queries"] == {"a": 1.0}


def test_load_bench_prefers_compact_final_line(tmp_path):
    """Round-7 bench.py prints the full map first, then a compact
    pinned-gate record as the FINAL stdout line (VERDICT r6 item 3:
    the driver keeps only the last ~2 KB, which beheaded the old
    single big line in BENCH_r05 and r06). load_bench must recover
    the final compact record from a tail whose first line lost its
    head — and from a raw two-line stdout file."""
    full = {
        "metric": "headline_suite_seconds_full",
        "queries": {f"q_{i:03d}": 0.5 for i in range(90)},
    }
    compact = {
        "metric": "headline_suite_seconds",
        "pinned_set": "v1",
        "queries": {f"q_{i:03d}": 0.4 for i in range(30)},
    }
    out = json.dumps(full) + "\n" + json.dumps(compact, separators=(",", ":"))

    p_raw = tmp_path / "raw_two_line.json"
    p_raw.write_text(out)
    rec = load_bench(str(p_raw))
    assert rec["pinned_set"] == "v1" and len(rec["queries"]) == 30

    # driver-style capture: only the last 2000 chars survive, so the
    # full line is beheaded but the compact line arrives intact
    p_tail = tmp_path / "wrapped_tail.json"
    p_tail.write_text(json.dumps({"rc": 0, "tail": out[-2000:]}))
    rec = load_bench(str(p_tail))
    assert rec["pinned_set"] == "v1" and len(rec["queries"]) == 30
    # the compact line itself must fit any plausible tail capture
    assert len(json.dumps(compact, separators=(",", ":"))) < 1500


def test_gate_against_committed_round4_record():
    """The real CI shape: the committed round-4 bench compared against
    itself must pass at ratio 1.0 — catches format drift between the
    driver wrapper and the gate."""
    import os

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    rec = load_bench(os.path.join(root, "BENCH_r04.json"))
    ok, msg = gate(rec, rec, max_ratio=1.15)
    assert ok, msg


def test_load_bench_reads_the_committed_full_map_artifact():
    """The committed BENCH_FULL_r*.json files are full-map records
    kept as history data (bench.py prints its full map as the first
    stdout line and writes no file). The newest must load directly and
    hold the full headline suite, so per-query comparison outside
    PINNED_V1 against that history works from the tree alone."""
    import glob

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    paths = sorted(glob.glob(os.path.join(root, "BENCH_FULL_r*.json")))
    assert paths, "no committed BENCH_FULL artifact"
    rec = load_bench(paths[-1])
    assert len(rec["queries"]) >= 112
    assert rec["pinned_queries"]  # the gate basis rides along
    # the artifact is directly gateable against itself
    ok, _msg = gate(rec, rec, max_ratio=1.15)
    assert ok


def test_compare_adds_a_full_suite_line_only_against_a_full_record():
    """``bench.py --compare`` against a gate record (pinned queries
    only, like BENCH_r15.json) prints the pinned_v1 line alone: a
    full-suite line would re-report the same pairs. Against a full
    record (BENCH_FULL_r15.json) both lines print."""
    import bench

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    gate_rec = load_bench(os.path.join(root, "BENCH_r15.json"))
    full_rec = load_bench(os.path.join(root, "BENCH_FULL_r15.json"))
    assert "pinned_queries" not in gate_rec and "pinned_queries" in full_rec
    pinned = gate_rec["queries"]
    times = {**full_rec["queries"], **pinned}

    ok, lines = bench.compare(gate_rec, pinned, times, max_ratio=1.15)
    assert ok and len(lines) == 1
    assert lines[0].startswith("PASS pinned_v1 ") and "ratio=1.000x" in lines[0]

    _ok, lines = bench.compare(full_rec, pinned, times, max_ratio=1.15)
    assert [line.split()[1] for line in lines] == ["pinned_v1", "full-suite"]
    n_common = [int(line.split("gate: ")[1].split()[0]) for line in lines]
    assert n_common[1] > n_common[0]


def test_bench_records_self_report_host_state():
    """VERDICT r12 item 5: the driver's r12 pinned artifact read 1.37×
    with uniform inflation across all 30 queries (a bare parquet scan
    included) — host contention that needed builder-side forensic A/Bs
    to adjudicate. Every bench record now embeds the md5-2M CPU anchor
    and /proc/loadavg at suite start AND end, so a noisy bracket is
    self-diagnosing from the artifact alone."""
    import bench

    state = bench.host_state()
    assert set(state) == {"cpu_anchor_md5_2m_s", "loadavg"}
    # the anchor is a real single-thread measurement: quiet-host basis
    # ~0.3 s (ROUND12_NOTES); bound generously but meaningfully
    assert 0.05 < state["cpu_anchor_md5_2m_s"] < 10.0
    assert len(state["loadavg"]) == 3
    assert all(x >= 0.0 for x in state["loadavg"])
    # both emitted records carry the host bracket — asserted on the
    # RECORD STRUCTURE via the factored builder, not on bench.py
    # source text (advisor, round 13: the substring assertion broke on
    # harmless refactors)
    times = {"q_a": 1.5, "q_b": 0.5, "q_c": 2.0}
    pinned = {"q_a": 1.5, "q_b": 0.5}
    host = {"start": state, "end": bench.host_state()}
    full, gate = bench.build_records(
        times,
        pinned,
        sf=0.1,
        passes=2,
        host=host,
        master="local[4]",
        default_parallelism=4,
        compiles_per_pass=[5, 0],
        compiles_per_query={"q_a": 0, "q_b": 0, "q_c": 0},
        pinned_compiles=3,
    )
    for rec in (full, gate):
        assert rec["master"] == "local[4]" and rec["defaultParallelism"] == 4
        assert rec["pinned_codegen_compiles"] == 3
        assert rec["host"] is host
        assert set(rec["host"]) == {"start", "end"}
        assert set(rec["host"]["start"]) == {"cpu_anchor_md5_2m_s", "loadavg"}
    # the two records agree on totals, and the gate record stays
    # pinned-set-based (growth-invariant)
    assert full["metric"] == "headline_suite_seconds_full"
    assert gate["metric"] == "headline_suite_seconds"
    assert full["value"] == gate["value"] == 4.0
    assert full["pinned_seconds"] == gate["pinned_seconds"] == 2.0
    assert gate["queries"] == pinned
    assert full["queries"] == times and full["pinned_queries"] == pinned
    # the full record carries each measured pass's compiles and the last
    # pass's per-query counts; the compact gate record only the integer
    assert full["codegen_compiles_per_pass"] == [5, 0]
    assert full["codegen_compiles_per_query"] == {"q_a": 0, "q_b": 0, "q_c": 0}
    assert not {"codegen_compiles_per_pass", "codegen_compiles_per_query"} & set(gate)


def test_load_bench_parses_records_with_and_without_parallelism(tmp_path):
    """The master/defaultParallelism and codegen-compile keys are
    additions only: a record from before them and one with them both
    load and gate."""
    import bench

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    old = load_bench(os.path.join(root, "BENCH_r15.json"))
    assert "defaultParallelism" not in old and old["queries"]
    full, gate_rec = bench.build_records(
        dict(old["queries"]),
        dict(old["queries"]),
        sf=0.1,
        passes=3,
        host={},
        master="local[4]",
        default_parallelism=4,
        compiles_per_pass=[0, 0, 0],
        compiles_per_query={q: 0 for q in old["queries"]},
        pinned_compiles=0,
    )
    p = tmp_path / "bench_stdout.txt"
    # bench.py's stdout: the full line, blank padding, the compact gate line
    p.write_text(
        json.dumps(full) + "\n" * 4096 + json.dumps(gate_rec, separators=(",", ":")) + "\n"
    )
    new = load_bench(str(p))
    assert "pinned_codegen_compiles" not in old
    assert new["pinned_codegen_compiles"] == 0
    full_only = tmp_path / "bench_full.json"
    full_only.write_text(json.dumps(full))
    assert load_bench(str(full_only))["codegen_compiles_per_pass"] == [0, 0, 0]
    assert new["defaultParallelism"] == 4 and new["master"] == "local[4]"
    assert new["queries"] == old["queries"]
    ok, msg = gate(old, new, max_ratio=1.15)
    assert ok, msg
