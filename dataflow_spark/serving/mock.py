"""Deterministic mock servings for tests and oracle comparison.

Reference pattern: the Flask dummy OpenAI server used by the reference's
own tests (/root/reference/test/dummy_server/app.py:17-80). Ours skips
the HTTP hop (pure functions), keeping LLM-operator tests deterministic
and hash-comparable; a real OpenAI-compatible HTTP client backend can be
slotted in without touching any operator.
"""

from __future__ import annotations

import hashlib
import math

from dataflow_spark.serving.base import EmbeddingServing, LLMServing


class MockLLMServing(LLMServing):
    """Deterministic echo/template responder.

    mode='echo'     -> returns the prompt itself
    mode='template' -> returns ``template.format(prompt=...)``
    mode='hash'     -> returns 'resp-<md5(prompt)[:12]>'
    Optional think wrapper mirrors the reference's
    '<think>...</think><answer>...</answer>' post-processing surface.
    """

    deterministic = True

    def __init__(self, mode: str = "hash", template: str = "OK: {prompt}",
                 fail_first: int = 0, wrap_answer: bool = False):
        self.mode = mode
        self.template = template
        self.fail_first = fail_first  # first N batch calls raise (retry tests)
        self.wrap_answer = wrap_answer
        self._calls = 0

    def generate_batch(self, prompts: list[str]) -> list[str]:
        self._calls += 1
        if self._calls <= self.fail_first:
            raise ConnectionError("mock transient failure")
        out = []
        for p in prompts:
            if self.mode == "echo":
                r = p
            elif self.mode == "template":
                r = self.template.format(prompt=p)
            else:
                r = "resp-" + hashlib.md5(p.encode("utf-8")).hexdigest()[:12]
            if self.wrap_answer:
                r = f"<think>t</think><answer>{r}</answer>"
            out.append(r)
        return out


class HashEmbeddingServing(EmbeddingServing):
    """Deterministic pseudo-embedding: md5-seeded unit vector per text.

    Stand-in for a real embedding backend (the container has no model
    weights); preserves the property that identical texts map to
    identical vectors, so semantic-dedup plumbing is testable end-to-end.
    """

    def __init__(self, dim: int = 8):
        self.dim = dim

    def embed_batch(self, texts: list[str]) -> list[list[float]]:
        out = []
        for t in texts:
            h = hashlib.md5(t.encode("utf-8")).digest()
            # expand digest deterministically to dim floats in [-1, 1]
            vals = []
            i = 0
            while len(vals) < self.dim:
                b = hashlib.md5(h + bytes([i])).digest()
                for j in range(0, 16, 2):
                    if len(vals) >= self.dim:
                        break
                    v = int.from_bytes(b[j:j + 2], "big") / 32767.5 - 1.0
                    vals.append(v)
                i += 1
            n = math.sqrt(sum(v * v for v in vals)) or 1.0
            out.append([v / n for v in vals])
        return out
