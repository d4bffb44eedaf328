"""Spans recorded from the benchmark's side of each layer boundary.

The engine is not instrumented. A traced request instead wraps, for its
duration only, the calls the engine makes into its lower layers: the
query parser that ``plans.search`` imported, and the methods of the
``IndexStore`` instance the ``Collection`` hands to the search plans.
Spans stay in memory; ``layer_self_ms`` turns them into per-layer self
time once the run is over.
"""

from __future__ import annotations

import functools
import time
from contextlib import contextmanager

from measure import Span, self_times

# IndexStore method -> layer span name
STORE_LAYERS = {
    "stats": "index.stats",
    "config": "index.stats",
    "df_for_terms": "index.lexicon",
    "prefix_df_arrow": "index.lexicon",
    "pattern_df_arrow": "index.lexicon",
    "postings": "index.open",
    "docmap": "index.open",
    "denied_mask": "index.denied_mask",
}
# ``epoch`` is deliberately not wrapped. It is called from inside
# ``df_for_terms`` (every search) and ``denied_mask``, so its cost stays
# in the self time of the calling span: index.lexicon or
# index.denied_mask, or search.plan for a call made by the plan itself.


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self._next = 0
        self.request: int | None = None

    @contextmanager
    def span(self, name: str):
        sid = self._next
        self._next += 1
        parent = self._stack[-1] if self._stack else None
        self._stack.append(sid)
        t0 = time.perf_counter()
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            self.spans.append(Span(sid, parent, name, t0, t1, self.request))

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    @contextmanager
    def instrument(self, store):
        """Wrap the parser and ``store``'s methods for the block's
        duration; outside it the engine runs with no wrapper at all."""
        from fastcatsearch3_spark.plans import search as search_mod

        parse = search_mod.parse_query
        search_mod.parse_query = self.wrap("query.parse", parse)
        for meth, layer in STORE_LAYERS.items():
            setattr(store, meth, self.wrap(layer, getattr(store, meth)))
        try:
            yield
        finally:
            search_mod.parse_query = parse
            for meth in STORE_LAYERS:
                delattr(store, meth)  # back to the class method

    def request_spans(self, request: int) -> list[Span]:
        return [s for s in self.spans if s.request == request]


def layer_self_ms(spans: list[Span]) -> dict[str, float]:
    """Layer name -> summed self time (ms) of its spans."""
    st = self_times(spans)
    out: dict[str, float] = {}
    for s in spans:
        out[s.name] = out.get(s.name, 0.0) + 1e3 * st[s.sid]
    return out


def job_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) Spark ran under job group ``group``."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = tasks = 0
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is None:
            continue
        for sid in info.stageIds:
            stages += 1
            sinfo = tracker.getStageInfo(sid)
            if sinfo is not None:
                tasks += sinfo.numTasks
    return len(jobs), stages, tasks
