"""The benchmark's own tests: ``python -m pytest perfbench -q`` from the
repository root. None of them starts Spark."""

from __future__ import annotations

import json
import os

import pytest

from perfbench import corpus, gen, metrics
from perfbench.fakellm import KeywordClient, call_stats
from perfbench.run import ANALYTIC, SCALE, SPAN_METRICS, tail
from perfbench.trace import Span, Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_tables_are_deterministic():
    a, b = gen.build_tables(0.001), gen.build_tables(0.001)
    assert set(a) == set(b) == set(gen.ROWS_PER_SF) | {"region", "nation"}
    for name in a:
        assert a[name].equals(b[name]), name
    assert a["lineitem"].num_rows == 6000
    assert a["embeddings"].num_rows == a["documents"].num_rows == 500


def test_line_items_ship_after_their_order_in_the_tpch_date_range():
    t = gen.build_tables(0.001)
    order = t["orders"]["o_orderdate"].to_numpy()
    ship = t["lineitem"]["l_shipdate"].to_numpy()
    lag = (ship - order[t["lineitem"]["l_orderkey"].to_numpy()]).astype("timedelta64[D]")
    assert lag.min().astype(int) >= 1 and lag.max().astype(int) <= 121
    assert str(order.min())[:4] == "1992" and str(order.max()) <= "1998-08-02"


def test_every_pinned_query_has_rows():
    with open(os.path.join(ROOT, "perfbench", "fingerprints.json")) as fh:
        pinned = json.load(fh)
    assert pinned["scale"] == SCALE
    assert sorted(pinned["queries"]) == sorted(ANALYTIC)
    for name, fp in pinned["queries"].items():
        assert int(fp.split(":")[0]) > 0, name


def test_corpus_is_deterministic_per_seed():
    assert corpus.corpus_lines(7, 300) == corpus.corpus_lines(7, 300)
    assert corpus.corpus_lines(7, 300) != corpus.corpus_lines(8, 300)
    assert sorted(corpus.corpus_lines(7, 300)) == sorted(corpus.corpus_lines(8, 300))
    assert corpus.prefilled_ids(7, 100, 0.9) == corpus.prefilled_ids(7, 100, 0.9)
    assert len(corpus.prefilled_ids(7, 100, 0.9)) == 90


def test_expected_output_on_a_hand_built_corpus():
    docs = [
        (1, "no match here\nhash join one\nplain"),
        (0, "hash join zero"),
        (2, "nothing"),
    ]
    assert corpus.expected_output(docs) == "hash join zero\n\nhash join one\n\n\n"


@pytest.mark.parametrize("cut", [1, 2, 3])
def test_client_output_does_not_depend_on_chunk_boundaries(cut):
    lines = ["a hash join b", "c", "hash join", "d e"]
    client = KeywordClient(corpus.KEYWORD, simulate_latency=False)
    whole = client.generate("", "\n".join(lines))
    split = client.generate("", "\n".join(lines[:cut])) + client.generate(
        "", "\n".join(lines[cut:])
    )
    assert whole == split == "a hash join b\nhash join\n"


def test_call_stats():
    stats = call_stats([(1, 0.0, 1.0), (2, 0.5, 1.5), (1, 2.0, 3.0)])
    assert stats == {"calls": 3, "busy_s": 3.0, "span_s": 3.0, "inflight": 1.0}


def test_tail_stays_on_the_slowest_query():
    fast = [0.2, 0.3, 0.5, 0.6, 0.7, 0.8, 0.9]
    for passes in (3, 4):
        slowest = [2.0 + 0.1 * i for i in range(passes)]
        assert 2.0 < tail(fast * passes + slowest) < 2.0 + 0.1 * passes
    assert tail([2.0]) == 2.0


class _FakeContext:
    def setJobGroup(self, *_):
        pass

    def setLocalProperty(self, *_):
        pass


class _FakeSpark:
    sparkContext = _FakeContext()


def test_overlapping_external_calls_share_the_open_span_as_parent():
    tracer = Tracer(_FakeSpark(), "t")
    parent = Span(0, "cache.append", None, "t", 0.0, 10.0)
    tracer.spans.append(parent)
    tracer.add_external("llm.call", 1.0, 5.0)
    tracer.add_external("llm.call", 2.0, 6.0)
    assert [s.parent for s in tracer.spans[1:]] == [0, 0]
    assert tracer.self_time(parent) == pytest.approx(5.0)


def test_metrics_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)

    def listed(defs):
        return [{"name": m.name, "unit": m.unit, "better": m.better} for m in defs]

    e2e = [{k: v for k, v in m.items() if k != "bound"} for m in bench["end_to_end"]]
    assert e2e == listed(metrics.END_TO_END)
    assert bench["per_layer"] == listed(metrics.PER_LAYER)
    assert set(SPAN_METRICS) <= {m.name for m in metrics.PER_LAYER}
    assert all(m.layer and m.moves for m in metrics.PER_LAYER)
