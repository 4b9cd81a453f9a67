"""OpenAI-compatible HTTP serving backends.

Reference surface: APILLMServing_request
(/root/reference/dataflow/serving/api_llm_serving_request.py:14-60 —
api_url / key_name_of_api_key / model_name / temperature / max_workers,
thread-pool fan-out, retry) and the embeddings variant used by
EmbeddingGenerator.

Spark-first difference: the serving object ships inside the mapInPandas
closure, so the thread pool fans out PER EXECUTOR TASK over that task's
micro-batch — aggregate concurrency scales with the cluster
(tasks x max_workers), not with one driver-side pool. Only stdlib
(urllib) is used so the closure stays dependency-free on executors.

Each chat request retries on its own (``_post_json_retrying``): a 429,
5xx, dropped connection or timeout re-sends only that prompt, never the
batch siblings that already succeeded. Every request opens its own
connection; keep-alive waits for a backend that does not hold one
handler thread per open connection.
"""

from __future__ import annotations

import functools
import http.client
import json
import os
import time
import urllib.error
import urllib.request
from concurrent.futures import ThreadPoolExecutor

from dataflow_spark.serving.base import EmbeddingServing, LLMServing


def _post_json(url: str, payload: dict, headers: dict, timeout: float) -> dict:
    req = urllib.request.Request(
        url, data=json.dumps(payload).encode("utf-8"),
        headers={"Content-Type": "application/json", **headers}, method="POST")
    with urllib.request.urlopen(req, timeout=timeout) as resp:
        return json.loads(resp.read().decode("utf-8"))


def _post_json_retrying(url: str, payload: dict, headers: dict,
                        timeout: float, attempts: int,
                        base_delay: float) -> dict:
    """``_post_json`` with retry for one request. HTTP 429 and 5xx,
    refused or dropped connections, truncated bodies and timeouts are
    retried after ``base_delay`` seconds, doubling per attempt; any
    other HTTP status raises at once with its status and body."""
    for attempt in range(attempts):
        try:
            return _post_json(url, payload, headers, timeout)
        except (OSError, http.client.HTTPException) as e:
            # HTTPError and URLError are OSErrors too
            if isinstance(e, urllib.error.HTTPError):
                with e:  # holds the open response
                    body = e.read().decode("utf-8", "replace")
                if e.code != 429 and e.code < 500:
                    raise RuntimeError(
                        f"POST {url} failed with HTTP {e.code}: {body}") from e
            if attempt == attempts - 1:
                raise
        time.sleep(base_delay * 2 ** attempt)
    raise ValueError(f"attempts must be positive, got {attempts}")


class APILLMServing(LLMServing):
    """Chat-completions backend for any OpenAI-compatible endpoint.

    The API key is looked up from the environment variable named by
    ``key_name_of_api_key`` lazily AT CALL TIME on the executor (never
    serialized into the closure, mirroring the reference's env-var-only
    policy). An empty/absent key sends no Authorization header, which
    suits local servers (vLLM, llama.cpp, ollama).
    """

    def __init__(self, api_url: str = "https://api.openai.com/v1/chat/completions",
                 key_name_of_api_key: str = "DF_API_KEY",
                 model_name: str = "gpt-4o",
                 temperature: float = 0.0,
                 max_workers: int = 10,
                 read_timeout: float = 120.0,
                 system_prompt: str = "",
                 max_tokens: int | None = None):
        self.api_url = api_url
        self.key_name_of_api_key = key_name_of_api_key
        self.model_name = model_name
        self.temperature = temperature
        self.max_workers = max_workers
        self.read_timeout = read_timeout
        self.system_prompt = system_prompt
        self.max_tokens = max_tokens

    @property
    def deterministic(self) -> bool:
        """Greedy decoding: equal prompts may share one request."""
        return self.temperature == 0

    def _headers(self) -> dict:
        key = os.environ.get(self.key_name_of_api_key, "")
        return {"Authorization": f"Bearer {key}"} if key else {}

    def _one(self, prompt: str, attempts: int, base_delay: float) -> str:
        messages = []
        if self.system_prompt:
            messages.append({"role": "system", "content": self.system_prompt})
        messages.append({"role": "user", "content": prompt})
        payload: dict = {"model": self.model_name, "messages": messages,
                         "temperature": self.temperature}
        if self.max_tokens is not None:
            payload["max_tokens"] = self.max_tokens
        out = _post_json_retrying(self.api_url, payload, self._headers(),
                                  self.read_timeout, attempts, base_delay)
        return out["choices"][0]["message"]["content"]

    def generate_batch(self, prompts: list[str]) -> list[str]:
        return self.generate_with_retry(prompts)

    def generate_with_retry(self, prompts: list[str], max_retries: int = 5,
                            base_delay: float = 0.5) -> list[str]:
        """Fan the prompts out over the thread pool. The retry budget
        applies to each request separately, so one failing request never
        re-sends the others."""
        if not prompts:
            return []
        one = functools.partial(self._one, attempts=max_retries,
                                base_delay=base_delay)
        with ThreadPoolExecutor(max_workers=min(self.max_workers,
                                                len(prompts))) as pool:
            return list(pool.map(one, prompts))


class APIEmbeddingServing(EmbeddingServing):
    """Embeddings backend for any OpenAI-compatible /embeddings endpoint."""

    def __init__(self, api_url: str = "https://api.openai.com/v1/embeddings",
                 key_name_of_api_key: str = "DF_API_KEY",
                 model_name: str = "text-embedding-3-small",
                 dim: int = 1536,
                 read_timeout: float = 120.0):
        self.api_url = api_url
        self.key_name_of_api_key = key_name_of_api_key
        self.model_name = model_name
        self.dim = dim
        self.read_timeout = read_timeout

    def _headers(self) -> dict:
        key = os.environ.get(self.key_name_of_api_key, "")
        return {"Authorization": f"Bearer {key}"} if key else {}

    def embed_batch(self, texts: list[str]) -> list[list[float]]:
        if not texts:
            return []
        out = _post_json(self.api_url,
                         {"model": self.model_name, "input": texts},
                         self._headers(), self.read_timeout)
        data = sorted(out["data"], key=lambda d: d["index"])
        return [d["embedding"] for d in data]


# reference-exact class name
APILLMServing_request = APILLMServing
