"""Driver-side spans around the calls into each layer's public functions.

``instrument(tracer)`` wraps the names the pipeline modules call —
partitioning, kernel, table IO, lineage and snapshot functions — for the
duration of a ``with`` block and restores them afterwards. Spark is lazy,
so a span over a DataFrame builder covers plan construction only; the
work lands in the span of the action that runs it (``write_extracted``
for the kernel stage, the pipeline's own ``collect`` for the lineage
rollup). Spans stay in memory until ``Tracer.dump``.
"""

from __future__ import annotations

import functools
import json
import time
from contextlib import contextmanager
from typing import Dict, Iterator, List, Optional

from corsearch_project_spark.plans import extract_pipeline, merge_pipeline
from corsearch_project_spark.sources import snapshots
from corsearch_project_spark.sources.io import ParquetBucketedFormat

# (owner, attribute, layer): the call sites the pipelines go through
_TARGETS = [
    (mod, name, layer)
    for mod in (extract_pipeline, merge_pipeline)
    for name, layer in (
        ("scan_pages", "io"),
        ("with_url_bucket", "partitioning"),
        ("hot_hosts", "partitioning"),
        ("with_salt", "partitioning"),
        ("dedupe_latest", "plans"),
        ("run_kernel", "kernel"),
        ("lineage_rows", "lineage"),
    )
] + [
    (ParquetBucketedFormat, "write_extracted", "io"),
    (ParquetBucketedFormat, "read_extracted", "io"),
    (ParquetBucketedFormat, "append_lineage", "io"),
    (snapshots, "append_snapshot", "snapshots"),
]

LAYERS = ("plans", "partitioning", "kernel", "io", "lineage", "snapshots")


class Tracer:
    def __init__(self) -> None:
        self.spans: List[dict] = []
        self._stack: List[int] = []
        self.run_id: Optional[str] = None

    @contextmanager
    def span(self, name: str, layer: str) -> Iterator[None]:
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "layer": layer,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def self_time_by_layer(self, run_id: str) -> Dict[str, float]:
        """Span duration minus the time its child spans cover, per layer."""
        mine = [s for s in self.spans if s["run"] == run_id]
        child = {s["id"]: 0.0 for s in mine}
        for s in mine:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = {layer: 0.0 for layer in LAYERS}
        for s in mine:
            out[s["layer"]] += (s["end"] - s["start"]) - child[s["id"]]
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def _wrap(tracer: Tracer, fn, name: str, layer: str):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(name, layer):
            return fn(*args, **kwargs)

    return traced


def span_cost_s(n: int = 20_000) -> float:
    """Measured cost of one traced call: a wrapped no-op, timed in a loop."""
    noop = _wrap(Tracer(), lambda: None, "noop", "plans")
    t0 = time.perf_counter()
    for _ in range(n):
        noop()
    return (time.perf_counter() - t0) / n


@contextmanager
def instrument(tracer: Tracer) -> Iterator[Tracer]:
    saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in _TARGETS]
    try:
        for owner, attr, layer in _TARGETS:
            setattr(owner, attr, _wrap(tracer, getattr(owner, attr), f"{layer}.{attr}", layer))
        yield tracer
    finally:
        for owner, attr, fn in saved:
            setattr(owner, attr, fn)
