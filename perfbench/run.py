"""Seeded benchmark of the query engine and the chunk → cache → LLM map →
ordered-reduce pipeline.

    python3 perfbench/run.py --workload analytic --seed 1 --seconds 10 --trace 0

Run from the repository root. Each run starts one Spark session on
``local[<cores available>]``, builds its inputs from ``--seed``, checks
every output, then measures closed-loop passes (one client: the next
query or job starts when the previous one ends) until ``--seconds`` have
elapsed. The last stdout line is the result object; the line before it
is the run's self-report. ``--trace 1`` adds a traced measurement and
prints the per-layer metrics instead of the end-to-end ones.

Everything the run writes lives under ``.perfbench_work/`` in the
repository and is removed at the end, except the spans of a traced run
(``.perfbench_work/spans/<workload>-seed<n>.jsonl``). Exit status is 0
only when every output check passed.
"""

from __future__ import annotations

import argparse
import json
import os
import resource
import shutil
import signal
import statistics
import sys
import time
import traceback

PROCESS_START = time.perf_counter()

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import corpus, metrics  # noqa: E402
from perfbench.fakellm import KeywordClient, call_stats, read_calls  # noqa: E402
from perfbench.gen import write_tables  # noqa: E402

# Table scale for the query workloads: the engine is bound by fixed cost
# per job at this size (ROADMAP), and a whole pass fits several times in
# one run.
SCALE = 0.01

# Seven queries of bench.py's frozen PINNED_V1 set, copied so later edits
# to bench.py cannot move them: scan, aggregation, star joins
# (q_tpch_q5_shape also launches jobs while it is being built), a window,
# sessionized events and text. q_dedup_clusters adds the driver-side
# iterative loop of operators/graph.py (connected_components), where fixed
# cost per iteration dominates. A pass takes five to six seconds once
# warm, so a 15-second run fits three.
ANALYTIC = [
    "q_agg_basic",
    "q_scan_project",
    "q_tpch_q3_shape",
    "q_tpch_q5_shape",
    "q_win_rank",
    "q_evt_sessionize",
    "q_text_stats",
    "q_dedup_clusters",
]

# llm_resume: seed-shuffled lines in documents of 50 lines, chunked at 256
# tokens, with the results of a seed-chosen 90% of the documents cached
# before timing.
LLM_LINES = 2500
LINES_PER_DOC = 50
TOKEN_BUDGET = 256
PREFILLED_SHARE = 0.9

WORKLOADS = ("analytic", "llm_resume")
SETUP_REPEATS = 3
# at least three timed passes, so the median is never a warming pass
MIN_PASSES = 3


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def median(xs: list[float]) -> float:
    return statistics.median(xs)


def tail(xs: list[float]) -> float:
    """95th percentile (inclusive). A run yields 3-4 pass latencies
    (llm_resume) or 24-32 query latencies (analytic): too few for any
    percentile to keep ten samples above it. With eight queries the top
    eighth of the samples are the slowest query's, and the 95th
    percentile stays inside them whether a run makes three passes or four."""
    return statistics.quantiles(xs, n=20, method="inclusive")[-1] if len(xs) > 1 else xs[0]


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)


def host_state() -> dict:
    from tools.host_anchor import cpu_anchor

    with open("/proc/loadavg") as fh:
        loadavg = [float(x) for x in fh.read().split()[:3]]
    return {"loadavg": loadavg, "cpu_anchor_md5_2m_s": cpu_anchor()}


class Outcome:
    """Operations attempted and failed across the run."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def run(self, what: str, fn, *args):
        self.attempted += 1
        try:
            return fn(*args)
        except Exception:  # one failing operation must not stop the run
            self.failed += 1
            print(f"FAILED {what}", file=sys.stderr)
            traceback.print_exc()
            return None

    def check(self, what: str, ok: bool, detail: str = "") -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"CHECK FAILED {what} {detail}", file=sys.stderr)


# ---------------------------------------------------------------------------
# analytic
# ---------------------------------------------------------------------------


def fingerprint(df) -> str:
    """Row count plus an order-insensitive sum of per-row hashes over
    the columns in name order; doubles are rounded to 4 decimals (the
    registry's rounding rule) and -0.0 folded into 0.0."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    def canon(c, dtype):
        if isinstance(dtype, (T.DoubleType, T.FloatType)):
            r = F.round(c.cast("double"), 4)
            return F.when(r == 0, F.lit(0.0)).otherwise(r)
        if isinstance(dtype, T.DecimalType):
            return c.cast("string")
        if isinstance(dtype, T.ArrayType) and isinstance(
            dtype.elementType, (T.DoubleType, T.FloatType)
        ):
            return F.transform(c, lambda x: F.round(x.cast("double"), 4))
        if isinstance(dtype, T.MapType):
            return F.to_json(F.array_sort(F.map_entries(c)))
        return c

    fields = sorted(df.schema.fields, key=lambda f: f.name)
    h = F.xxhash64(*[canon(F.col(f"`{f.name}`"), f.dataType) for f in fields])
    row = df.select(h.cast("decimal(38,0)").alias("h")).agg(
        F.count(F.lit(1)).alias("n"), F.sum("h").alias("s")
    ).first()
    return f"{row['n']}:{row['s'] or 0}"


class QueryWorkload:
    name = "analytic"
    # pass time falls for about seven passes of a fresh session (q_dedup_clusters
    # by a third); the check pass is the first of them
    warm_passes = 3

    def __init__(self, spark, registry, seed: int, work: str):
        self.spark = spark
        self.registry = registry
        self.seed = seed
        self.work = work
        self.query_s: dict[str, list[float]] = {}
        with open(os.path.join(ROOT, "perfbench", "fingerprints.json")) as fh:
            self.pinned = json.load(fh)["queries"]

    def setup(self) -> None:
        import numpy as np

        self.data = write_tables(os.path.join(self.work, "tables"), SCALE)
        order = np.random.default_rng(self.seed).permutation(len(ANALYTIC))
        self.order = [ANALYTIC[i] for i in order]

    def run_query(self, name: str, tracer=None) -> float:
        fn = self.registry.QUERIES[name]
        t0 = time.perf_counter()
        if tracer is None:
            fn(self.spark, self.data).write.mode("overwrite").format("noop").save()
        else:
            with tracer.span("query.build"):
                df = fn(self.spark, self.data)
            with tracer.span("query.exec"):
                df.write.mode("overwrite").format("noop").save()
        return time.perf_counter() - t0

    def prepare(self, outcome: Outcome) -> None:
        """Untimed pass that fingerprints every query's output, then
        untimed passes as the timed ones run: the JVM compiles as it goes,
        and the first passes of a session are the slowest."""
        for name in self.order:
            got = outcome.run(name, lambda n=name: fingerprint(
                self.registry.QUERIES[n](self.spark, self.data)))
            if got is not None:
                want = self.pinned[name]
                outcome.check(name, got == want, f"got {got} want {want}")
        for _ in range(self.warm_passes):
            self.one_pass(outcome)
        self.query_s.clear()

    def one_pass(self, outcome: Outcome, tracer=None) -> tuple[float, list[float]]:
        self.spark.catalog.clearCache()
        lat = []
        t0 = time.perf_counter()
        for name in self.order:
            dt = outcome.run(name, self.run_query, name, tracer)
            if dt is not None:
                lat.append(dt)
                self.query_s.setdefault(name, []).append(dt)
        return time.perf_counter() - t0, lat


# ---------------------------------------------------------------------------
# LLM workload (llm_resume)
# ---------------------------------------------------------------------------


class LLMWorkload:
    name = "llm_resume"
    warm_passes = 2

    def __init__(self, spark, seed: int, work: str):
        self.spark = spark
        self.seed = seed
        self.work = work
        self.calls_per_pass: list[int] = []
        self.pass_calls: list[list[tuple[int, float, float]]] = []

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def _run_job(self, docs_path: str, cache_dir: str, out_dir: str, client, tracer=None):
        from mapreduce_llm_spark.operators.pipeline import map_reduce_llm, write_text_sink

        docs = self.spark.read.parquet(docs_path)
        if tracer is None:
            write_text_sink(
                map_reduce_llm(docs, corpus.PROMPT, client,
                               max_tokens_per_chunk=TOKEN_BUDGET, cache_dir=cache_dir),
                out_dir,
            )
            return True
        with tracer.span("pipeline.build"):
            out = map_reduce_llm(docs, corpus.PROMPT, client,
                                 max_tokens_per_chunk=TOKEN_BUDGET, cache_dir=cache_dir)
        with tracer.span("sink.write"):
            write_text_sink(out, out_dir)
        return True

    def _write_docs(self, docs: list[tuple[int, str]], path: str) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        pq.write_table(
            pa.table({"doc_id": pa.array([d for d, _ in docs], pa.int64()),
                      "text": [t for _, t in docs]}),
            path,
        )

    def setup(self) -> None:
        lines = corpus.corpus_lines(self.seed, LLM_LINES)
        self.docs = corpus.split_documents(lines, LINES_PER_DOC)
        self.expected = corpus.expected_output(self.docs)
        self.docs_path = self.path("docs.parquet")
        self._write_docs(self.docs, self.docs_path)
        prefill = set(corpus.prefilled_ids(self.seed, len(self.docs), PREFILLED_SHARE))
        self._write_docs([d for d in self.docs if d[0] in prefill], self.path("prefill.parquet"))

    def prepare(self, outcome: Outcome) -> None:
        """Fill the starting cache with a zero-latency client, then run
        untimed passes: the JVM compiles as it goes, and the first passes
        of a session are the slowest."""
        os.makedirs(self.path("logs"))
        os.makedirs(self.path("base_cache"))
        outcome.run("prefill", self._run_job, self.path("prefill.parquet"),
                    self.path("base_cache"), self.path("prefill_out"),
                    KeywordClient(corpus.KEYWORD, simulate_latency=False))
        for _ in range(self.warm_passes):
            self.one_pass(outcome)

    def read_output(self, out_dir: str) -> str:
        parts = sorted(f for f in os.listdir(out_dir) if f.startswith("part-"))
        return "".join(open(os.path.join(out_dir, f)).read() for f in parts)

    def reset_pass_state(self) -> None:
        """A fresh copy of the starting cache, an empty output and call log."""
        shutil.rmtree(self.path("cache"), ignore_errors=True)
        shutil.rmtree(self.path("out"), ignore_errors=True)
        shutil.copytree(self.path("base_cache"), self.path("cache"))
        for f in os.listdir(self.path("logs")):
            os.remove(self.path("logs", f))
        self.spark.catalog.clearCache()

    def one_pass(self, outcome: Outcome, tracer=None) -> tuple[float, list[float]]:
        self.reset_pass_state()
        cache, out = self.path("cache"), self.path("out")
        client = KeywordClient(corpus.KEYWORD, log_dir=self.path("logs"))
        t0 = time.perf_counter()
        ok = outcome.run("llm job", self._run_job, self.docs_path, cache, out, client, tracer)
        dt = time.perf_counter() - t0
        calls = read_calls(self.path("logs"))
        self.pass_calls.append(calls)
        self.calls_per_pass.append(len(calls))
        self.cache_bytes_written = dir_bytes(cache) - dir_bytes(self.path("base_cache"))
        if ok:
            got = self.read_output(out)
            outcome.check("llm output", got == self.expected,
                          f"{len(got)} chars, want {len(self.expected)}")
        return dt, [dt]

    def check(self, outcome: Outcome) -> None:
        outcome.check("llm calls equal across passes",
                      len(set(self.calls_per_pass)) == 1, str(self.calls_per_pass))


# ---------------------------------------------------------------------------
# traced measurement
# ---------------------------------------------------------------------------


def install_layers(tracer) -> None:
    """Wrap each layer's public entry points where the program calls them."""
    import mapreduce_llm_spark
    from mapreduce_llm_spark import io
    from mapreduce_llm_spark.operators import graph, pipeline

    for modname, mod in list(sys.modules.items()):
        if modname.startswith(mapreduce_llm_spark.__name__ + ".queries.") and getattr(
            mod, "load_table", None
        ) is io.load_table:
            tracer.install(mod, "load_table", "io.load")
    for fn in ("connected_components", "pagerank", "kcore_peel_trace"):
        tracer.install(graph, fn, "graph")
    for fn, name in (
        ("chunk_documents", "chunker.build"),
        ("read_cache", "cache.read"),
        ("split_cached", "cache.probe"),
        ("llm_map", "llm_map.build"),
        ("append_cache", "cache.append"),
    ):
        tracer.install(pipeline, fn, name)


def layer_sums(tracer, root) -> dict[str, float]:
    """Per-span-name call counts, inclusive and self seconds and jobs
    within one pass, plus the pass's Spark jobs, stages and tasks."""
    m: dict[str, float] = {}
    for s in [root, *tracer.descendants(root)]:
        for key, v in (
            ("calls", 1),
            ("s", s.duration),
            ("self_s", tracer.self_time(s)),
            ("jobs", len(tracer.all_jobs(s))),
        ):
            m[f"{s.name}.{key}"] = m.get(f"{s.name}.{key}", 0.0) + v
    jobs = tracer.all_jobs(root)
    m["spark.jobs"] = len(jobs)
    m["spark.stages"], m["spark.tasks"] = tracer.stages_and_tasks(jobs)
    return m


# per-layer metric ← span-name sum
SPAN_METRICS = {
    "io.load_calls": "io.load.calls",
    "io.load_s": "io.load.s",
    "io.load_jobs": "io.load.jobs",
    "query.build_s": "query.build.s",
    "query.build_self_s": "query.build.self_s",
    "query.exec_s": "query.exec.s",
    "query.build_jobs": "query.build.jobs",
    "query.exec_jobs": "query.exec.jobs",
    "graph.calls": "graph.calls",
    "graph.s": "graph.s",
    "graph.jobs": "graph.jobs",
    "pipeline.build_s": "pipeline.build.s",
    "pipeline.build_self_s": "pipeline.build.self_s",
    "sink.write_s": "sink.write.s",
    "cache.append_s": "cache.append.s",
    "cache.append_self_s": "cache.append.self_s",
    "spark.jobs": "spark.jobs",
    "spark.stages": "spark.stages",
    "spark.tasks": "spark.tasks",
}


def llm_layer_probe(spark, work: LLMWorkload) -> dict[str, float]:
    """Chunker and cache probe materialised on their own, outside any pass,
    and the corpus rows one pass feeds the chunker."""
    from mapreduce_llm_spark.operators import pipeline
    from mapreduce_llm_spark.operators.cache import cache_key_col, read_cache, split_cached
    from mapreduce_llm_spark.operators.chunker import chunk_documents

    docs = spark.read.parquet(work.docs_path)
    n_docs = docs.count()
    t0 = time.perf_counter()
    n_chunks = chunk_documents(docs, max_tokens=TOKEN_BUDGET).count()
    chunker_s = time.perf_counter() - t0

    # keyed as map_reduce_llm keys them under its default model
    keyed = chunk_documents(docs, max_tokens=TOKEN_BUDGET).withColumn(
        "cache_key", cache_key_col("chunk_text", corpus.PROMPT, "gpt-5-nano")
    ).localCheckpoint()
    cache = read_cache(spark, work.path("base_cache"))
    t0 = time.perf_counter()
    hits, misses = split_cached(keyed, cache)
    n_hits, n_misses = hits.count(), misses.count()
    probe_s = time.perf_counter() - t0

    acc = spark.sparkContext.accumulator(0)

    def tap(batches):
        for b in batches:
            acc.add(b.num_rows)
            yield b

    original = pipeline.chunk_documents
    pipeline.chunk_documents = lambda d, *a, **kw: original(d.mapInArrow(tap, d.schema), *a, **kw)
    try:
        work.reset_pass_state()
        work._run_job(work.docs_path, work.path("cache"), work.path("out"),
                      KeywordClient(corpus.KEYWORD, simulate_latency=False))
    finally:
        pipeline.chunk_documents = original
    return {
        "chunker.s": chunker_s,
        "chunker.chunks": n_chunks,
        "chunker.reads_per_pass": acc.value / n_docs,
        "cache.probe_s": probe_s,
        "cache.hit_ratio": n_hits / max(1, n_hits + n_misses),
        "cache.misses": n_misses,
    }


def trace_run(spark, work, outcome, seconds: float, setup: dict) -> dict[str, float]:
    """Pairs of one untraced and one traced pass for ``seconds``, in
    alternating order so the warming of the session does not favour
    either; per-layer medians come from the traced passes, the overhead
    from the pairing."""
    from perfbench.trace import Tracer

    tracer = Tracer(spark, run_id=f"perfbench-{os.getpid()}")
    plain, traced, sums, calls = [], [], [], []
    t_end = time.perf_counter() + seconds
    while time.perf_counter() < t_end or not traced:
        if len(traced) % 2 == 0:
            plain.append(work.one_pass(outcome)[0])
        install_layers(tracer)
        try:
            with tracer.span("pass") as root:
                traced.append(work.one_pass(outcome, tracer)[0])
        finally:
            tracer.uninstall()
        if isinstance(work, LLMWorkload):
            calls.append(work.pass_calls[-1])
            wall_minus_perf = time.time() - time.perf_counter()
            for _, start, end in calls[-1]:
                tracer.add_external("llm.call", start - wall_minus_perf, end - wall_minus_perf)
        sums.append(layer_sums(tracer, root))
        if len(traced) % 2 == 0:
            plain.append(work.one_pass(outcome)[0])
    out = {
        "session.start_s": setup["session_s"],
        "registry.load_s": setup["registry_s"],
        "trace.pass_s": median(traced),
        "trace.overhead_s": median(traced) - median(plain),
    }
    for metric, key in SPAN_METRICS.items():
        out[metric] = median([m.get(key, 0.0) for m in sums])
    if isinstance(work, LLMWorkload):
        stats = [call_stats(c) for c in calls]
        for k in ("calls", "busy_s", "span_s", "inflight"):
            out[f"llm.{k}"] = median([s[k] for s in stats])
        out["pipeline.jobs"] = out["spark.jobs"]
        out["pipeline.outside_llm_s"] = out["trace.pass_s"] - out["llm.span_s"]
        out["cache.bytes_written"] = work.cache_bytes_written
        probe = llm_layer_probe(spark, work)
        misses = probe.pop("cache.misses")
        out.update(probe)
        out["llm.calls_per_miss"] = out["llm.calls"] / misses if misses else 0.0
    tracer.dump(os.path.join(ROOT, ".perfbench_work", "spans",
                             f"{work.name}-seed{work.seed}.jsonl"))
    return out


# ---------------------------------------------------------------------------


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    work_root = os.path.join(ROOT, ".perfbench_work")
    work_dir = os.path.join(work_root, str(os.getpid()))
    os.makedirs(os.path.join(work_dir, "tmp"), exist_ok=True)
    cores = len(os.sched_getaffinity(0))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_LOCAL_DIRS": os.path.join(work_dir, "spark-local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work_dir, "warehouse"),
        "SPARK_GRAFT_DRIVER_MEM": "2g",
        "TMPDIR": os.path.join(work_dir, "tmp"),
        "PYTHONPATH": os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")])),
        "SPARK_GRAFT_CONF": f"spark.driver.extraJavaOptions=-Djava.io.tmpdir={work_dir}/tmp",
    })
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))  # run the clean-up below
    try:
        t = time.perf_counter()
        host_start = host_state()
        anchor_s = time.perf_counter() - t
        return measure(args, work_dir, cores, host_start, anchor_s)
    finally:
        shutil.rmtree(work_dir, ignore_errors=True)
        if os.path.isdir(work_root) and not os.listdir(work_root):
            os.rmdir(work_root)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    import subprocess

    gateway = spark.sparkContext._gateway
    proc = gateway.proc  # the JVM exits when its stdin closes
    spark.stop()
    gateway.shutdown()
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def measure(args, work_dir: str, cores: int, host_start: dict, anchor_s: float) -> int:
    t0 = time.perf_counter()
    from mapreduce_llm_spark import registry
    from mapreduce_llm_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{args.workload}")
    session_s = time.perf_counter() - t0
    t1 = time.perf_counter()
    registry.load_all()
    registry_s = time.perf_counter() - t1
    process_s = time.perf_counter() - PROCESS_START - anchor_s
    outcome = Outcome()
    try:
        if args.workload == "llm_resume":
            work = LLMWorkload(spark, args.seed, work_dir)
        else:
            work = QueryWorkload(spark, registry, args.seed, work_dir)
        # the input set-up repeats so setup_s can report its median
        input_s = []
        for _ in range(SETUP_REPEATS):
            t = time.perf_counter()
            work.setup()
            input_s.append(time.perf_counter() - t)
        t = time.perf_counter()
        work.prepare(outcome)
        warm_s = time.perf_counter() - t
        setup_s = process_s + median(input_s) + warm_s

        passes, lat = [], []
        if args.trace:
            layer = trace_run(spark, work, outcome, args.seconds,
                              {"session_s": session_s, "registry_s": registry_s})
        else:
            t_end = time.perf_counter() + args.seconds
            while time.perf_counter() < t_end or len(passes) < MIN_PASSES:
                dt, op_lat = work.one_pass(outcome)
                passes.append(dt)
                lat.extend(op_lat)
        if isinstance(work, LLMWorkload):
            work.check(outcome)
        report = {
            "workload": args.workload,
            "seed": args.seed,
            "master": spark.sparkContext.master,
            "defaultParallelism": spark.sparkContext.defaultParallelism,
            "nproc": cores,
            "host_start": host_start,
            "pass_s": passes,
            "setup_parts_s": {"process": process_s, "session": session_s,
                              "registry": registry_s, "inputs": input_s, "prepare": warm_s},
        }
        if isinstance(work, LLMWorkload):
            report["llm_calls_per_pass"] = work.calls_per_pass
        else:
            report["query_s"] = work.query_s
    finally:
        stop_spark(spark)
    report["host_end"] = host_state()
    report["peak_rss_mb"] = {
        "python": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
        "jvm": resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss / 1024,
    }
    if args.trace:
        values, defs = layer, metrics.PER_LAYER
    else:
        report["query_samples"] = len(lat)
        values = {"setup_s": setup_s, "pass_s": median(passes),
                  "query_p50_s": median(lat), "query_tail_s": tail(lat)}
        defs = metrics.END_TO_END
    print(json.dumps({"self_report": report}))
    result = {
        "correct": outcome.failed == 0,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": {m.name: {"value": float(values.get(m.name, 0.0)), "unit": m.unit}
                    for m in defs},
    }
    print(json.dumps(result))
    return 0 if outcome.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
