"""In-memory span recorder and the layer wrappers that feed it.

A span is (name, start, end, parent, run id) plus a dict of counts.
Spans live in memory and are written out once, when the run ends. An
operator's self time is its timed call minus its child spans (packs,
checkpoint saves).

The wrappers patch two layer entry points for the length of a traced
operator call and restore them afterwards:

- ``cugraph_spark.plans.csr_blocks.pack_edges`` — operators import it
  at call time, so the module attribute is the one they call;
- ``cugraph_spark.plans.checkpoint.CheckpointManager.save``.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


class Tracer:
    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
            "counts": {},
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def duration(self, span: dict) -> float:
        return span["end"] - span["start"]

    def children(self, span: dict, name: str) -> list[dict]:
        """All descendants of ``span`` called ``name``."""
        ids, out = {span["id"]}, []
        for s in self.spans[span["id"] + 1:]:
            if s["parent"] in ids:
                ids.add(s["id"])
                if s["name"] == name:
                    out.append(s)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans}, f)


@contextmanager
def layer_wrappers(tracer: Tracer):
    """Patch the pack and checkpoint entry points to record spans."""
    from cugraph_spark.plans import checkpoint, csr_blocks

    pack0 = csr_blocks.pack_edges
    save0 = checkpoint.CheckpointManager.save

    def pack_edges(edges, block_dir, *args, **kwargs):
        with tracer.span("csr_blocks.pack") as span:
            manifest = pack0(edges, block_dir, *args, **kwargs)
            span["counts"]["bytes_written"] = dir_bytes(block_dir)
            with open(os.path.join(block_dir, "meta.json")) as f:
                span["counts"]["format"] = json.load(f)["ids"]
            return manifest

    def save(self, df, iteration, metrics):
        with tracer.span("checkpoint.save") as span:
            out = save0(self, df, iteration, metrics)
            span["counts"]["bytes_written"] = dir_bytes(self._iter_dir(iteration))
            return out

    csr_blocks.pack_edges = pack_edges
    checkpoint.CheckpointManager.save = save
    try:
        yield
    finally:
        csr_blocks.pack_edges = pack0
        checkpoint.CheckpointManager.save = save0
