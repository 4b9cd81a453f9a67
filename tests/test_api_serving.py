"""APILLMServing / APIEmbeddingServing against a local OpenAI-compatible
stub server (no network, no keys) — proves the full executor-side path:
mapInPandas closure -> thread-pool fan-out -> HTTP -> response parse.
"""

import contextlib
import json
import random
import threading
from collections import Counter
from http.server import BaseHTTPRequestHandler, HTTPServer, ThreadingHTTPServer

import pytest

from dataflow_spark.serving import APIEmbeddingServing, APILLMServing, APILLMServing_request


class _Stub(BaseHTTPRequestHandler):
    def do_POST(self):
        body = json.loads(self.rfile.read(int(self.headers["Content-Length"])))
        if self.path == "/v1/chat/completions":
            prompt = body["messages"][-1]["content"]
            sys_msgs = [m for m in body["messages"] if m["role"] == "system"]
            prefix = f"[{sys_msgs[0]['content']}]" if sys_msgs else ""
            out = {"choices": [{"message": {
                "content": f"{prefix}echo:{prompt}:{body['model']}"}}]}
        elif self.path == "/v1/embeddings":
            out = {"data": [{"index": i, "embedding": [float(len(t)), 1.0]}
                            for i, t in enumerate(body["input"])]}
        else:  # pragma: no cover
            self.send_response(404)
            self.end_headers()
            return
        payload = json.dumps(out).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(payload)))
        self.end_headers()
        self.wfile.write(payload)

    def log_message(self, *a):  # quiet
        pass


@pytest.fixture(scope="module")
def stub_url():
    srv = HTTPServer(("127.0.0.1", 0), _Stub)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}"
    srv.shutdown()
    srv.server_close()


def test_chat_batch(stub_url):
    s = APILLMServing(api_url=f"{stub_url}/v1/chat/completions",
                      model_name="m1", max_workers=4)
    out = s.generate_batch(["a", "b", "c"])
    assert out == ["echo:a:m1", "echo:b:m1", "echo:c:m1"]
    assert s.generate_batch([]) == []


def test_chat_system_prompt_and_alias(stub_url):
    assert APILLMServing_request is APILLMServing
    s = APILLMServing(api_url=f"{stub_url}/v1/chat/completions",
                      model_name="m", system_prompt="sys")
    assert s.generate_batch(["x"]) == ["[sys]echo:x:m"]


def test_embeddings(stub_url):
    s = APIEmbeddingServing(api_url=f"{stub_url}/v1/embeddings", dim=2)
    assert s.embed_batch(["ab", "q"]) == [[2.0, 1.0], [1.0, 1.0]]
    assert s.embed_batch([]) == []


def test_llm_map_through_api(stub_url, spark):
    from dataflow_spark.operators.generate.llm_map import llm_map

    df = spark.createDataFrame([("hi",), ("yo",)], ["text"]).coalesce(1)
    s = APILLMServing(api_url=f"{stub_url}/v1/chat/completions", model_name="m")
    got = {r["text"]: r["resp"]
           for r in llm_map(df, s, "Q:{text}", "text", "resp").collect()}
    assert got == {"hi": "echo:Q:hi:m", "yo": "echo:Q:yo:m"}


def test_embedding_generator_through_api(stub_url, spark):
    from dataflow_spark.core.registry import OPERATOR_REGISTRY

    df = spark.createDataFrame([("abc",), ("de",)], ["text"]).coalesce(1)
    op = OPERATOR_REGISTRY.get("EmbeddingGenerator")(
        serving=APIEmbeddingServing(api_url=f"{stub_url}/v1/embeddings", dim=2))
    rows = {r["text"]: r["embedding"] for r in op.run(df).collect()}
    assert rows == {"abc": [3.0, 1.0], "de": [2.0, 1.0]}


class _FaultyChat(BaseHTTPRequestHandler):
    """Echo chat stub whose server fails each prompt's first attempts by
    a plan: an HTTP status (429, 500, 400) or ``"drop"``, which closes
    the connection halfway through a 200 response body."""

    def do_POST(self):
        srv = self.server
        body = json.loads(self.rfile.read(int(self.headers["Content-Length"])))
        prompt = body["messages"][-1]["content"]
        with srv.lock:
            srv.attempts[prompt] += 1
            plan = srv.plan(prompt)
            n = srv.attempts[prompt]
        fault = plan[n - 1] if n <= len(plan) else None
        if isinstance(fault, int):
            with srv.lock:
                srv.outcomes[fault] += 1
            self.send_error(fault, explain=f"planned {fault} for {prompt}")
            return
        payload = json.dumps({"choices": [{"message": {
            "content": f"echo:{prompt}"}}]}).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(payload)))
        self.end_headers()
        if fault == "drop":
            self.wfile.write(payload[:len(payload) // 2])
            self.close_connection = True
            with srv.lock:
                srv.outcomes["drop"] += 1
            return
        self.wfile.write(payload)
        with srv.lock:
            srv.outcomes[200] += 1

    def log_message(self, *a):  # quiet
        pass


@contextlib.contextmanager
def _faulty_server(plan=lambda prompt: []):
    srv = ThreadingHTTPServer(("127.0.0.1", 0), _FaultyChat)
    srv.daemon_threads = True
    srv.lock = threading.Lock()
    srv.attempts, srv.outcomes, srv.plan = Counter(), Counter(), plan
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        yield srv, f"http://127.0.0.1:{srv.server_address[1]}/v1/chat/completions"
    finally:
        srv.shutdown()
        srv.server_close()
        t.join(timeout=10)
        assert not t.is_alive()


def _seeded_plan(seed):
    """Per prompt, 0-2 leading faults drawn from a seed: fewer than the
    5 attempts a request gets, so every prompt ends in one 200."""
    def plan(prompt):
        rng = random.Random(f"{seed}:{prompt}")
        return [rng.choice((429, 500, "drop"))
                for _ in range(rng.choice((0, 1, 1, 2)))]
    return plan


def test_llm_map_retries_per_request_under_faults(spark):
    from dataflow_spark.operators.generate.llm_map import llm_map

    texts = [f"p{i % 16}" for i in range(40)]  # 16 distinct prompts
    df = spark.createDataFrame(list(enumerate(texts)),
                               ["doc_id", "text"]).coalesce(1)

    def run(url):
        s = APILLMServing(api_url=url, model_name="m", max_workers=8)
        return [tuple(r) for r in
                llm_map(df, s, "Q:{text}", "text", "resp").collect()]

    with _faulty_server() as (srv, url):
        clean = run(url)
    with _faulty_server(_seeded_plan(seed=7)) as (srv, url):
        faulty = run(url)
    assert faulty == clean
    assert clean == [(i, t, f"echo:Q:{t}") for i, t in enumerate(texts)]
    # one Arrow batch: each distinct prompt succeeded exactly once, and
    # no success was re-sent because a sibling request failed
    assert srv.outcomes[200] == len(set(texts))
    assert all(srv.outcomes[k] > 0 for k in (429, 500, "drop"))


def test_sampled_generation_sends_one_request_per_row(spark):
    from dataflow_spark.operators.generate.llm_map import llm_map

    texts = ["x", "y", "x", "x"]
    df = spark.createDataFrame(list(enumerate(texts)),
                               ["doc_id", "text"]).coalesce(1)
    with _faulty_server() as (srv, url):
        s = APILLMServing(api_url=url, model_name="m", temperature=0.7)
        assert not s.deterministic
        rows = llm_map(df, s, "{text}", "text", "resp").collect()
    assert [r["resp"] for r in rows] == [f"echo:{t}" for t in texts]
    assert srv.outcomes[200] == len(texts)


def test_client_error_fails_after_one_attempt():
    with _faulty_server(lambda prompt: [400] * 5) as (srv, url):
        s = APILLMServing(api_url=url, model_name="m")
        with pytest.raises(RuntimeError, match=r"(?s)HTTP 400: .*planned 400 for bad"):
            s.generate_batch(["bad"])
    assert srv.attempts["bad"] == 1


class TestLocalModelServingSeam:
    """LocalModelLLMServing_{vllm,sglang}: reference constructor
    surface validates and stores params; the backend import is lazy and
    raises a clear ImportError in this container (documented seam)."""

    def test_vllm_constructor_surface(self):
        from dataflow_spark.serving import (LocalModelLLMServing,
                                            LocalModelLLMServing_vllm)

        s = LocalModelLLMServing_vllm(
            hf_model_name_or_path="org/model",
            vllm_tensor_parallel_size=2,
            vllm_temperature=0.1, vllm_top_p=0.8, vllm_max_tokens=256,
            vllm_top_k=20, vllm_repetition_penalty=1.1, vllm_seed=7,
            vllm_max_model_len=4096, vllm_gpu_memory_utilization=0.8)
        assert s.tensor_parallel_size == 2
        assert s.sampling["temperature"] == 0.1
        assert LocalModelLLMServing is LocalModelLLMServing_vllm

    def test_requires_model_path(self):
        import pytest

        from dataflow_spark.serving import LocalModelLLMServing_vllm

        with pytest.raises(ValueError):
            LocalModelLLMServing_vllm()

    def test_lazy_import_error_in_container(self):
        import pytest

        from dataflow_spark.serving import (LocalModelLLMServing_sglang,
                                            LocalModelLLMServing_vllm)

        for cls, kw in ((LocalModelLLMServing_vllm, {}),
                        (LocalModelLLMServing_sglang, {})):
            s = cls(hf_model_name_or_path="org/model", **kw)
            with pytest.raises(ImportError, match="APILLMServing"):
                s.generate_batch(["hi"])

    def test_picklable_for_closures(self):
        import pickle

        from dataflow_spark.serving import LocalModelLLMServing_vllm

        s = LocalModelLLMServing_vllm(hf_model_name_or_path="org/model")
        s2 = pickle.loads(pickle.dumps(s))
        assert s2.hf_model_name_or_path == "org/model"

    def test_engine_cache_keyed_by_full_config(self, monkeypatch):
        """Advisor-reported: cache keyed only by model path silently
        shared one engine across different tp/max_len configs, and one
        instance's cleanup() evicted engines siblings still held."""
        import sys
        import types

        built = []

        class _FakeLLM:
            def __init__(self, **kw):
                self.kw = kw
                built.append(kw)

        fake = types.ModuleType("vllm")
        fake.LLM = _FakeLLM
        fake.SamplingParams = lambda **kw: kw
        monkeypatch.setitem(sys.modules, "vllm", fake)

        from dataflow_spark.serving import LocalModelLLMServing_vllm
        from dataflow_spark.serving import local_model as lm

        lm._ENGINE_CACHE.clear()
        lm._ENGINE_REFS.clear()
        a = LocalModelLLMServing_vllm(hf_model_name_or_path="org/model",
                                      vllm_tensor_parallel_size=1)
        b = LocalModelLLMServing_vllm(hf_model_name_or_path="org/model",
                                      vllm_tensor_parallel_size=4)
        c = LocalModelLLMServing_vllm(hf_model_name_or_path="org/model",
                                      vllm_tensor_parallel_size=4)
        ea, eb, ec = a._engine(), b._engine(), c._engine()
        # different configs -> different engines; same config -> shared
        assert ea is not eb and eb is ec
        assert len(built) == 2
        assert eb.kw["tensor_parallel_size"] == 4
        # cleanup by one holder must not evict a sibling's engine
        b.cleanup()
        assert c._engine() is ec and len(built) == 2
        c.cleanup()
        a.cleanup()
        assert not lm._ENGINE_CACHE and not lm._ENGINE_REFS
