"""The benchmark's metrics: what BENCHMARK.json lists, with the reasoning
behind each per-layer metric.

Every per-layer metric names its layer (a module of this repository),
the end-to-end metric it should move and the workload on which it
should move it. ``test_perfbench.py`` checks that BENCHMARK.json lists
exactly these names, units and directions.
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Metric:
    name: str
    unit: str
    better: str
    layer: str = ""
    moves: str = ""


END_TO_END = (
    Metric("setup_s", "s", "lower", "all",
           "process start to session ready, plus the median of three input "
           "set-ups, plus the untimed check and warm-up passes (analytic) or "
           "cache prefill and warm-up jobs (llm_resume)"),
    Metric("pass_s", "s", "lower", "all",
           "median wall time of a timed pass: the whole query mix, or one "
           "LLM job from corpus parquet to the combined output file"),
    Metric("query_p50_s", "s", "lower", "all",
           "median latency of one query (one job on the LLM workloads)"),
    Metric("query_tail_s", "s", "lower", "all",
           "95th percentile latency of one query (one job on llm_resume); "
           "the sample count is in the self-report"),
)

PER_LAYER = (
    Metric("session.start_s", "s", "lower", "session", "setup_s on all workloads"),
    Metric("registry.load_s", "s", "lower", "registry", "setup_s on all workloads"),
    Metric("io.load_calls", "count", "lower", "io",
           "query_p50_s and pass_s on analytic; 0 on llm_resume"),
    Metric("io.load_s", "s", "lower", "io", "query_p50_s and pass_s on analytic"),
    Metric("io.load_jobs", "count", "lower", "io", "pass_s on analytic"),
    Metric("query.build_s", "s", "lower", "queries", "pass_s on analytic"),
    Metric("query.build_self_s", "s", "lower", "queries",
           "pass_s on analytic (build time outside io and graph calls)"),
    Metric("query.exec_s", "s", "lower", "queries", "pass_s on analytic"),
    Metric("query.build_jobs", "count", "lower", "queries",
           "pass_s on analytic (eager actions while building)"),
    Metric("query.exec_jobs", "count", "lower", "queries", "pass_s on analytic"),
    Metric("spark.jobs", "count", "lower", "queries/pipeline",
           "pass_s on every workload (fixed cost per job)"),
    Metric("spark.stages", "count", "lower", "queries/pipeline", "pass_s on every workload"),
    Metric("spark.tasks", "count", "lower", "queries/pipeline", "pass_s on every workload"),
    Metric("graph.calls", "count", "lower", "operators.graph",
           "pass_s on analytic; 0 on llm_resume"),
    Metric("graph.s", "s", "lower", "operators.graph", "pass_s on analytic"),
    Metric("graph.jobs", "count", "lower", "operators.graph", "pass_s on analytic"),
    Metric("chunker.s", "s", "lower", "operators.chunker", "pass_s on llm_resume"),
    Metric("chunker.chunks", "count", "lower", "operators.chunker",
           "llm.calls (a fixed input: changes only with the chunking rule)"),
    Metric("chunker.reads_per_pass", "count", "lower", "operators.chunker",
           "pass_s on llm_resume (corpus rows fed to the chunker / corpus rows)"),
    Metric("cache.hit_ratio", "ratio", "higher", "operators.cache",
           "llm.calls on llm_resume"),
    Metric("cache.probe_s", "s", "lower", "operators.cache", "pass_s on llm_resume"),
    Metric("cache.append_s", "s", "lower", "operators.cache",
           "pass_s on llm_resume (includes any LLM calls the append drives)"),
    Metric("cache.append_self_s", "s", "lower", "operators.cache",
           "pass_s on llm_resume (append time with no call in flight)"),
    Metric("cache.bytes_written", "bytes", "lower", "operators.cache",
           "pass_s on llm_resume"),
    Metric("llm.calls", "count", "lower", "operators.llm_map",
           "paid calls per pass, the dollars, on llm_resume"),
    Metric("llm.busy_s", "s", "lower", "operators.llm_map", "pass_s on llm_resume"),
    Metric("llm.span_s", "s", "lower", "operators.llm_map", "pass_s on llm_resume"),
    Metric("llm.inflight", "count", "higher", "operators.llm_map",
           "pass_s on llm_resume (call fan-out: busy / span)"),
    Metric("llm.calls_per_miss", "ratio", "lower", "operators.llm_map",
           "llm.calls on llm_resume (1.0 means no re-billing)"),
    Metric("pipeline.jobs", "count", "lower", "operators.pipeline", "pass_s on llm_resume"),
    Metric("pipeline.build_s", "s", "lower", "operators.pipeline",
           "pass_s on llm_resume (map_reduce_llm, including its eager cache append)"),
    Metric("pipeline.build_self_s", "s", "lower", "operators.pipeline",
           "pass_s on llm_resume (map_reduce_llm outside its traced callees)"),
    Metric("pipeline.outside_llm_s", "s", "lower", "operators.pipeline",
           "pass_s on llm_resume (pass time minus the LLM call span)"),
    Metric("sink.write_s", "s", "lower", "operators.pipeline",
           "pass_s on llm_resume (write_text_sink runs the plan)"),
    Metric("trace.pass_s", "s", "lower", "benchmark", "traced pass_s, for the overhead"),
    Metric("trace.overhead_s", "s", "lower", "benchmark",
           "none: traced pass_s minus untraced pass_s of the same run"),
)
