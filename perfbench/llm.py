"""Latency-stub LLM client: ``StubLLM``'s responses behind a fixed,
deterministic per-request delay (a sleep, so it occupies a task slot
without using CPU, like a remote model server would)."""

from __future__ import annotations

import time

from ai_data_pipeline_spark.operators.llm_map import StubLLM


class LatencyLLM:
    """One request per prompt, each delayed ``delay_s``. Responses are
    byte-identical to ``StubLLM``. With accumulators given, it adds the
    prompts it served and the seconds it was busy to them."""

    def __init__(self, delay_s: float = 0.0, prompts_acc=None, busy_acc=None):
        self.delay_s = delay_s
        self.prompts_acc = prompts_acc
        self.busy_acc = busy_acc
        self.stub = StubLLM()

    def generate(self, prompts: list[str]) -> list[str]:
        t0 = time.perf_counter()
        if self.delay_s:
            time.sleep(self.delay_s * len(prompts))
        out = self.stub.generate(prompts)
        if self.prompts_acc is not None:
            self.prompts_acc.add(len(prompts))
            self.busy_acc.add(time.perf_counter() - t0)
        return out
