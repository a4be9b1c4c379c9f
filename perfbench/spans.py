"""In-memory span recorder for the traced benchmark run.

A span is a named interval with a parent; times are seconds since the
process started.  Spans stay in memory and are written out once, at the end
of the run, so recording costs a list append.
"""

from __future__ import annotations

import json
import os


class Tracer:
    def __init__(self, t0: float):
        self.t0 = t0
        self.spans: list[dict] = []

    def span(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> int:
        self.spans.append(
            {
                "id": len(self.spans),
                "parent": parent,
                "name": name,
                "start_s": start - self.t0,
                "end_s": end - self.t0,
                "attrs": attrs,
            }
        )
        return len(self.spans) - 1

    def close(self, span_id: int, end: float) -> None:
        self.spans[span_id]["end_s"] = end - self.t0

    def engine_phases(self, phases: dict, epoch_start: float, parent: int) -> None:
        """Children of an epoch span from the engine's timing line: the
        sequential phases (each a wall since the previous mark) and the
        pooled futures ((start, duration) relative to the epoch start),
        which overlap one another.  The future that ends last is recorded
        on the epoch span: with the overlap phase it is the blocking step."""
        t = epoch_start
        for name, dur in phases.items():
            if name == "futures":
                continue
            self.span(f"phase.{name}", t, t + dur, parent)
            t += dur
        futures = phases.get("futures", {})
        for name, (start, dur) in futures.items():
            self.span(f"future.{name}", epoch_start + start, epoch_start + start + dur, parent)
        if futures:
            last = max(futures, key=lambda n: sum(futures[n]))
            self.spans[parent]["attrs"]["last_future"] = last

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans}, f, indent=1)
