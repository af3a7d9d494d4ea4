"""The LLM map — the "map" of the reference's MapReduce.

Reference behavior being re-expressed (not ported):
- prompt augmentation: the user prompt is suffixed with the hardwired
  reduce contract "\\nReturn the lines that you want to keep."
  (reference internal/cli/mapreduce.go:91);
- per-chunk chat call: system = augmented prompt, user = chunk text,
  first choice's content is the result; an empty response is an error
  (reference internal/cli/mapreduce.go:169-196);
- the client is injectable so tests run a deterministic fake
  (reference internal/openai/chat.go:13-16, mapreduce_test.go:17-54).

Spark shape: ``mapInPandas`` over the chunk table. Each task keeps
``CALLS_IN_FLIGHT_PER_TASK`` calls in flight on a thread pool — calls
are I/O-bound, so threads, not Spark tasks, are the unit of fan-out —
and the task count is the partition count (``concurrency=n``
repartitions). In-flight calls are therefore bounded at tasks × the
per-task constant: the reference's goroutine-per-chunk fan-out
(reference internal/cli/mapreduce.go:93-122), bounded. Clients must be
small, picklable and thread-safe; each task unpickles one instance and
its threads share it.
"""

from __future__ import annotations

import re
import threading
from collections.abc import Iterator
from concurrent.futures import FIRST_EXCEPTION, ThreadPoolExecutor, wait
from dataclasses import dataclass
from typing import Protocol

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

RETURN_LINES_SUFFIX = "\nReturn the lines that you want to keep."

# Calls each Spark task keeps in flight. Calls wait on the network, so a
# task's threads overlap them; total in flight is tasks × this bound.
CALLS_IN_FLIGHT_PER_TASK = 16


class ChatClient(Protocol):
    """Minimal chat interface (the reference's ChatGenerator seam).

    ``generate`` may be called from several threads at once: a task's
    calls share one instance (see ``CALLS_IN_FLIGHT_PER_TASK``)."""

    def generate(self, system: str, user: str) -> str: ...


@dataclass(frozen=True)
class FakeChatClient:
    """Deterministic test client: keeps lines matching a regex.

    Mimics the reference's shipped example — a semantic filter prompt
    ("select the lines with reviews that are about objects from the
    kitchen", reference examples/product-ratings/prompt.txt:1) — with a
    keyword filter so tests are reproducible without a network.
    """

    keep_pattern: str = ""

    def generate(self, system: str, user: str) -> str:
        if not self.keep_pattern:
            return user  # echo
        rx = re.compile(self.keep_pattern)
        return "\n".join(line for line in user.split("\n") if rx.search(line))


@dataclass(frozen=True)
class FailingChatClient:
    """Raises on every call — for error-propagation and cache tests
    (the reference's mock error injection, mapreduce_test.go:234-260)."""

    message: str = "simulated API error"

    def generate(self, system: str, user: str) -> str:
        raise RuntimeError(self.message)


@dataclass(frozen=True)
class OpenAICompatClient:
    """OpenAI-compatible HTTP client (chat completions).

    Built on stdlib urllib against the public /v1/chat/completions
    shape; requires an explicit base_url + api_key. Not exercised in
    tests (no network in this environment) — the seam exists so a real
    deployment can drop it in where tests use FakeChatClient.
    """

    base_url: str
    api_key: str
    model: str = "gpt-5-nano"
    timeout_s: float = 300.0  # reference internal/openai/client.go:30 (5 min)

    def generate(self, system: str, user: str) -> str:
        import json
        import urllib.request

        req = urllib.request.Request(
            f"{self.base_url.rstrip('/')}/v1/chat/completions",
            data=json.dumps(
                {
                    "model": self.model,
                    "messages": [
                        {"role": "system", "content": system},
                        {"role": "user", "content": user},
                    ],
                }
            ).encode(),
            headers={
                "Content-Type": "application/json",
                "Authorization": f"Bearer {self.api_key}",
            },
        )
        with urllib.request.urlopen(req, timeout=self.timeout_s) as resp:
            payload = json.loads(resp.read())
        content = payload["choices"][0]["message"]["content"]
        if not content:
            # reference internal/cli/mapreduce.go:196: empty response is an error
            raise RuntimeError("empty response from chat API")
        return content


def _generate_all(
    pool: ThreadPoolExecutor, client: ChatClient, system: str, texts: list[str]
) -> list[str]:
    """One call per text on ``pool``, results in input order. The first
    failing call cancels every queued call and re-raises, so a failing
    provider is not sent the rest of the batch."""
    futures = [pool.submit(client.generate, system, t) for t in texts]
    done, pending = wait(futures, return_when=FIRST_EXCEPTION)
    if pending:
        pool.shutdown(cancel_futures=True)
        next(f for f in done if f.exception() is not None).result()
    return [f.result() for f in futures]


def llm_map(
    chunks: DataFrame,
    prompt: str,
    client: ChatClient,
    concurrency: int | None = None,
) -> DataFrame:
    """Fill a ``result`` column through the LLM and flag the rows that
    were called in a boolean ``fresh`` column; every input column passes
    through.

    Rows whose ``result`` is already set (a cache probe's hits) are not
    sent. Without a ``result`` column every row is sent. Within a batch,
    rows with equal ``chunk_text`` share one call and only the first is
    flagged ``fresh``, so a cache append writes each answer once.

    ``concurrency`` repartitions to that many tasks; each keeps up to
    ``CALLS_IN_FLIGHT_PER_TASK`` calls in flight.
    """
    system_prompt = prompt + RETURN_LINES_SUFFIX
    if "result" not in chunks.columns:
        chunks = chunks.withColumn("result", F.lit(None).cast("string"))
    if concurrency is not None:
        chunks = chunks.repartition(concurrency)
    schema = T.StructType(
        [f for f in chunks.schema if f.name != "result"]
        + [T.StructField("result", T.StringType()), T.StructField("fresh", T.BooleanType())]
    )
    columns = schema.fieldNames()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        with ThreadPoolExecutor(CALLS_IN_FLIGHT_PER_TASK) as pool:
            for pdf in batches:
                todo = pdf["result"].isna()
                texts = pdf.loc[todo, "chunk_text"].drop_duplicates()
                answers = dict(
                    zip(texts, _generate_all(pool, client, system_prompt, texts.tolist()))
                )
                fresh = pd.Series(False, index=pdf.index)
                fresh[texts.index] = True
                result = pdf["result"].where(~todo, pdf["chunk_text"].map(answers))
                yield pdf.assign(result=result, fresh=fresh)[columns]

    return chunks.mapInPandas(run, schema=schema)


@dataclass
class RetryingClient:
    """Bounded-retry decorator over any ChatClient (exponential
    backoff). The reference fails the whole job on the first chunk
    error (internal/cli/mapreduce.go:124-127); at cluster scale a
    transient 429/5xx on one chunk must not kill a million-chunk job —
    retries absorb transients, and only a persistent failure
    propagates (Spark then retries the task, then fails the job).

    ``sleep`` is injectable so tests run without wall-clock waits.
    """

    inner: ChatClient
    max_attempts: int = 3
    backoff_s: float = 1.0
    backoff_multiplier: float = 2.0
    sleep: "object" = None  # Callable[[float], None]; None → time.sleep

    def generate(self, system: str, user: str) -> str:
        import time as _time

        do_sleep = self.sleep or _time.sleep
        delay = self.backoff_s
        last: Exception | None = None
        for attempt in range(1, self.max_attempts + 1):
            try:
                return self.inner.generate(system, user)
            except Exception as ex:  # noqa: BLE001 — transport errors vary by client
                last = ex
                if attempt == self.max_attempts:
                    break
                do_sleep(delay)
                delay *= self.backoff_multiplier
        raise RuntimeError(
            f"chat call failed after {self.max_attempts} attempts: {last}"
        ) from last


@dataclass
class RateLimitedClient:
    """Token-bucket rate limit decorator: at most ``max_per_second``
    calls per second per client instance, i.e. per Spark task, whose
    threads share it — cluster-wide rate ≈ max_per_second × concurrency,
    so set ``llm_map(concurrency=n)`` and this together to hit a provider
    quota exactly. Each call reserves the next free slot under a lock and
    sleeps outside it, so concurrent callers keep the spacing.
    ``clock``/``sleep`` are injectable for tests."""

    inner: ChatClient
    max_per_second: float = 1.0
    clock: "object" = None  # Callable[[], float]; None → time.monotonic
    sleep: "object" = None

    def __post_init__(self) -> None:
        self._next_allowed = 0.0
        self._lock = threading.Lock()

    def __getstate__(self) -> dict:
        state = self.__dict__.copy()
        del state["_lock"]  # locks do not pickle; each copy gets its own
        return state

    def __setstate__(self, state: dict) -> None:
        self.__dict__.update(state)
        self._lock = threading.Lock()

    def generate(self, system: str, user: str) -> str:
        import time as _time

        now_fn = self.clock or _time.monotonic
        do_sleep = self.sleep or _time.sleep
        with self._lock:
            now = now_fn()
            slot = max(now, self._next_allowed)
            self._next_allowed = slot + 1.0 / self.max_per_second
        if slot > now:
            do_sleep(slot - now)
        return self.inner.generate(system, user)
