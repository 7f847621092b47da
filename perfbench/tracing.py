"""Span recorder for the traced run.

Spans are recorded from the benchmark's side by wrapping the program's
public functions where the pipeline calls them (the name a caller looks
up, e.g. ``job.write_fanout`` rather than ``sinks.write_fanout``). Spans
stay in memory and are written out when the run ends.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager

from .stats import covered


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self.op_id: str | None = None
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.spans),
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op_id,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def wrap(self, owner: object, attr: str, name: str) -> None:
        """Replace ``owner.attr`` (or ``owner[attr]`` for a dict) by a
        wrapper that records a span."""
        orig = owner[attr] if isinstance(owner, dict) else getattr(owner, attr)

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            with self.span(name) as rec:
                ret = orig(*args, **kwargs)
                if isinstance(ret, int):
                    rec["ret"] = ret
                return ret

        self._set(owner, attr, traced)
        self._patched.append((owner, attr, orig))

    @staticmethod
    def _set(owner: object, attr: str, value: object) -> None:
        if isinstance(owner, dict):
            owner[attr] = value
        else:
            setattr(owner, attr, value)

    def unwrap_all(self) -> None:
        for owner, attr, orig in reversed(self._patched):
            self._set(owner, attr, orig)
        self._patched.clear()

    def named(self, name: str, op: str | None = None) -> list[dict]:
        return [
            s for s in self.spans
            if s["name"] == name and (op is None or s["op"] == op)
        ]

    def self_time(self, span: dict) -> float:
        """Duration minus the part of it covered by child spans."""
        kids = [(c["start"], c["end"]) for c in self.spans if c["parent"] == span["id"]]
        return (span["end"] - span["start"]) - covered(kids, span["start"], span["end"])


def instrument(tracer: Tracer) -> None:
    """Wrap the pipeline's layer boundaries, as seen from their callers."""
    from logprocessor_spark import checkpoint, harness, job, query, sinks
    from logprocessor_spark.operators import aggregate

    for attr, name in [
        ("run_pipeline", "job.run_pipeline"),
        ("_discover_partitions", "job.listing"),
        ("_committed_counts", "job.committed_counts"),
        ("parse_pages", "job.plan.parse"),
        ("enrich", "job.plan.enrich"),
        ("route", "job.plan.route"),
        ("write_fanout", "sinks.write_fanout"),
        ("append_metrics", "checkpoint.append_metrics"),
    ]:
        tracer.wrap(job, attr, name)
    tracer.wrap(sinks, "reconcile_cross_day_dupes", "sinks.reconcile")
    for attr in ("__init__", "done_partitions", "mark_done"):
        tracer.wrap(checkpoint.Ledger, attr, "checkpoint.ledger")
    tracer.wrap(query, "search", "query.search.plan")
    tracer.wrap(query, "point_lookup", "query.point_lookup.plan")
    tracer.wrap(aggregate, "sink_aggregates", "aggregate.sink_aggregates.plan")
    # harness builders are called through the QUERIES registry dict
    for q in list(harness.QUERIES):
        tracer.wrap(harness.QUERIES, q, f"harness.{q}.plan")
