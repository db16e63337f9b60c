"""Per-layer instruments for the traced run.

- ``Tracer``: spans recorded from the benchmark's own files around the
  public calls into the program. Each span sets a Spark job group, so the
  event log charges every job it starts to it. Spans stay in memory.
- ``fixture_pass`` / ``kernel_pass``: single-process passes that time the
  public fixture and kernel functions on one workload's payloads.
"""

from __future__ import annotations

import time
from contextlib import contextmanager
from dataclasses import dataclass

KINDS = ("html", "pdf", "ocr", "plain", "empty")
#: rows run untimed first, so first-call costs (imports, regex compiles)
#: stay out of the per-turn times
WARM_ROWS = 200


@dataclass
class Span:
    name: str
    group: str
    parent: str | None
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans keyed by Spark job group; ``enabled=False`` records nothing
    and leaves the job group alone (the untraced passes)."""

    def __init__(self, spark, enabled: bool) -> None:
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        group = f"{parent.group}/{name}" if parent else name
        sp = Span(name, group, parent.group if parent else None, time.time())
        self._stack.append(sp)
        self.sc.setJobGroup(group, name)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent.group, parent.name)
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(sp)

    def groups_under(self, span: Span) -> set[str]:
        """The span's own job group and those of every span inside it."""
        return {s.group for s in self.spans if s.group == span.group or s.group.startswith(span.group + "/")}


def fixture_pass(docs) -> dict:
    """``fixtures.build_payload`` over (doc_id, text) rows: µs per turn."""
    from text_ocr_spark.fixtures import build_payload

    rows = list(zip(docs.column("doc_id").to_pylist(), docs.column("text").to_pylist()))
    for doc_id, text in rows[:WARM_ROWS]:
        build_payload(int(doc_id), text or "")
    t0 = time.perf_counter()
    for doc_id, text in rows:
        build_payload(int(doc_id), text or "")
    return {"fixtures.build_payload_us": 1e6 * (time.perf_counter() - t0) / max(len(rows), 1)}


def kernel_pass(payloads: list[tuple[str | None, str | None]]) -> dict:
    """Time each public kernel function on the same (payload, tool) inputs.

    ``kernels.<kind>_us`` is ``extract_payload`` per turn of that kind (it
    dispatches on its own classification, and applies the bounded-window
    path to oversized payloads as the pipeline does); ``classify_us`` and
    ``spans_json_us`` are per turn over every turn.
    """
    from text_ocr_spark.kernels.classify import classify_payload
    from text_ocr_spark.kernels.extract import extract_payload
    from text_ocr_spark.oracle import spans_to_json

    for text, tool in payloads[:WARM_ROWS]:
        spans_to_json(extract_payload(text, tool)[2])
    clk = time.perf_counter
    t_classify = t_json = 0.0
    t_kind = dict.fromkeys(KINDS, 0.0)
    n_kind = dict.fromkeys(KINDS, 0)
    bytes_in = bytes_out = 0
    for text, tool in payloads:
        t0 = clk()
        classify_payload(text, tool)
        t1 = clk()
        kind, extracted, spans = extract_payload(text, tool)
        t2 = clk()
        spans_to_json(spans)
        t3 = clk()
        t_classify += t1 - t0
        t_kind[kind] += t2 - t1
        n_kind[kind] += 1
        t_json += t3 - t2
        bytes_in += len(text.encode("utf-8")) if text else 0
        bytes_out += len(extracted.encode("utf-8"))
    n = max(len(payloads), 1)
    out = {
        "kernels.classify_us": 1e6 * t_classify / n,
        "kernels.spans_json_us": 1e6 * t_json / n,
        "kernels.bytes_in": bytes_in,
        "kernels.bytes_out": bytes_out,
    }
    for k in KINDS:
        if k != "empty":
            out[f"kernels.{k}_us"] = 1e6 * t_kind[k] / max(n_kind[k], 1)
        out[f"kernels.turns.{k}"] = n_kind[k]
    return out
