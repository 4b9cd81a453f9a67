"""LLM serving abstraction for the LLM-map execution primitive.

Reference: LLMServingABC + APILLMServing_request (thread pool, retry
taxonomy, /root/reference/dataflow/serving/api_llm_serving_request.py:
22-45,174-253). Spark-first difference: fan-out happens on EXECUTORS —
each mapInPandas task batches its partition's rows against the backend
via a per-executor client, so concurrency scales with the cluster, not a
driver thread pool.

Serving objects must be picklable (they are shipped inside the
mapInPandas closure); heavyweight state (HTTP sessions, models) must be
created lazily per executor process — see ``_client()`` pattern in
subclasses.
"""

from __future__ import annotations

import time
from abc import ABC, abstractmethod


class LLMServing(ABC):
    """Generate one output string per input prompt, batch-at-a-time."""

    #: rows per backend micro-batch inside a partition
    batch_size: int = 64

    #: True when equal prompts always get equal outputs (greedy decoding,
    #: pure functions). ``llm_map`` then sends each distinct prompt of an
    #: Arrow batch once; sampled generation keeps one call per row.
    deterministic: bool = False

    @abstractmethod
    def generate_batch(self, prompts: list[str]) -> list[str]:
        """Must return exactly len(prompts) outputs, aligned by index."""

    def generate_with_retry(self, prompts: list[str], max_retries: int = 5,
                            base_delay: float = 0.5) -> list[str]:
        """Exponential-backoff retry around a batch call (reference
        semantics: api_llm_serving_request.py:222-253)."""
        delay = base_delay
        for attempt in range(max_retries):
            try:
                out = self.generate_batch(prompts)
                if len(out) != len(prompts):
                    raise ValueError(
                        f"serving returned {len(out)} outputs for {len(prompts)} prompts"
                    )
                return out
            except Exception:
                if attempt == max_retries - 1:
                    raise
                time.sleep(delay)
                delay *= 2
        raise RuntimeError("unreachable")

    def cleanup(self) -> None:
        """Release resources (GPU memory etc). Reference: the pipeline
        refcounts servings and calls cleanup between stages
        (Pipeline.py:517-541)."""


class EmbeddingServing(ABC):
    """Embed a batch of texts into fixed-dim float vectors."""

    dim: int = 8

    @abstractmethod
    def embed_batch(self, texts: list[str]) -> list[list[float]]: ...
